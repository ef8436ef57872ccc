package graft

import org.apache.spark.sql.functions._

import graft.etl.ManifestTable

/** Manifest-pointer committed tables (the object-store-safe T1): the
  * commit is one small file appearing, never a directory rename — these
  * specs re-prove the reference's transactional invariants through
  * manifest-resolved reads and exercise the crash/isolation properties
  * rename-based publish cannot give on object stores. */
class ManifestTableSpec extends SparkSpec {
  import spark.implicits._

  test("publish + read roundtrip; versions advance; time travel") {
    val root = tmpDir("mt")
    val v1 = ManifestTable.publish(spark, root,
      Map("t" -> Seq((1L, "a"), (2L, "b")).toDF("id", "v")))
    assert(v1 == 1L)
    assert(ManifestTable.read(spark, root, "t")
      .as[(Long, String)].collect().toSet == Set((1L, "a"), (2L, "b")))
    val v2 = ManifestTable.publish(spark, root,
      Map("t" -> Seq((3L, "c")).toDF("id", "v")))
    assert(v2 == 2L)
    assert(ManifestTable.read(spark, root, "t")
      .as[(Long, String)].collect().toSet == Set((3L, "c")))
    // time travel: the superseded version is still readable
    assert(ManifestTable.readAt(spark, root, "t", 1L)
      .as[(Long, String)].collect().toSet == Set((1L, "a"), (2L, "b")))
  }

  test("invariant 1 via manifest: appendNew is idempotent, re-run adds 0 rows") {
    val root = tmpDir("mtapp")
    val batch = Seq((1L, "x"), (2L, "y")).toDF("id", "v")
    assert(ManifestTable.appendNew(spark, root, "t", batch, Seq("id")) == 2L)
    val vAfterFirst = ManifestTable.current(spark, root).get.version
    // re-running the same load appends nothing AND creates no new version
    assert(ManifestTable.appendNew(spark, root, "t", batch, Seq("id")) == 0L)
    assert(ManifestTable.current(spark, root).get.version == vAfterFirst)
    // a mixed batch appends only the genuinely new keys
    val mixed = Seq((2L, "y"), (3L, "z")).toDF("id", "v")
    assert(ManifestTable.appendNew(spark, root, "t", mixed, Seq("id")) == 1L)
    assert(ManifestTable.read(spark, root, "t").select("id")
      .as[Long].collect().toSet == Set(1L, 2L, 3L))
  }

  test("invariant 4 via manifest: failed multi-table publish leaves ALL tables serving the old version") {
    val root = tmpDir("mtatomic")
    val good = Seq((1, "x")).toDF("id", "v")
    ManifestTable.publish(spark, root, Map("t1" -> good, "t2" -> good))
    val bad = good.select(expr("raise_error('boom')").as("id"), $"v")
    intercept[Exception] {
      ManifestTable.publish(spark, root,
        Map("t1" -> good.union(good), "t2" -> bad))
    }
    // crash-mid-publish: data files for t1's v2 may exist as orphans,
    // but the COMMIT never landed — both tables still serve v1
    assert(ManifestTable.current(spark, root).get.version == 1L)
    assert(ManifestTable.read(spark, root, "t1").count() == 1L)
    assert(ManifestTable.read(spark, root, "t2").count() == 1L)
  }

  test("crash-mid-publish orphans are invisible to readers and vacuumed later") {
    val root = tmpDir("mtorphan")
    ManifestTable.publish(spark, root, Map("t" -> Seq((1, "x")).toDF("id", "v")))
    intercept[Exception] {
      ManifestTable.publish(spark, root, Map(
        // t writes fine, u fails -> t's new files are orphans
        "t" -> Seq((9, "z")).toDF("id", "v"),
        "u" -> Seq((1, "x")).toDF("id", "v")
          .select(expr("raise_error('boom')").as("id"), $"v")))
    }
    assert(ManifestTable.read(spark, root, "t").select("id")
      .as[Int].collect().toSeq == Seq(1))
    val removed = ManifestTable.vacuum(spark, root)
    assert(removed >= 1L, "orphaned data files collected")
    // vacuum never touches the served version
    assert(ManifestTable.read(spark, root, "t").select("id")
      .as[Int].collect().toSeq == Seq(1))
  }

  test("a torn temp commit file is ignored by readers") {
    val root = tmpDir("mttorn")
    ManifestTable.publish(spark, root, Map("t" -> Seq((1, "x")).toDF("id", "v")))
    // simulate a crashed committer: partial bytes under a .tmp name
    val torn = new java.io.File(s"$root/_commits/.tmp-deadbeef")
    val w = new java.io.FileWriter(torn); w.write("t\tgarbage"); w.close()
    assert(ManifestTable.current(spark, root).get.version == 1L)
    assert(ManifestTable.read(spark, root, "t").count() == 1L)
  }

  test("snapshot isolation: a resolved version keeps serving while a new one commits") {
    val root = tmpDir("mtsnap")
    ManifestTable.publish(spark, root,
      Map("t" -> Seq((1L, "a"), (2L, "b")).toDF("id", "v")))
    // reader plans against v1 (file list resolved NOW)
    val v1Reader = ManifestTable.read(spark, root, "t")
    // writer replaces the table entirely
    ManifestTable.publish(spark, root, Map("t" -> Seq((3L, "c")).toDF("id", "v")))
    // the old files still exist (no vacuum yet): the v1 plan executes
    // correctly AFTER v2 committed — no torn read, no missing files
    assert(v1Reader.select("id").as[Long].collect().toSet == Set(1L, 2L))
    assert(ManifestTable.read(spark, root, "t").select("id")
      .as[Long].collect().toSet == Set(3L))
  }

  test("deleteWhere rewrites only files containing matches; commit is all-or-nothing") {
    val root = tmpDir("mtdel")
    // two files with disjoint id ranges via explicit appends
    ManifestTable.appendNew(spark, root, "t",
      Seq((1L, "a"), (2L, "b")).toDF("id", "v"), Seq("id"))
    ManifestTable.appendNew(spark, root, "t",
      Seq((10L, "x"), (11L, "y")).toDF("id", "v"), Seq("id"))
    val before = ManifestTable.current(spark, root).get.entries.map(_.relPath).toSet
    val (files, rows) = ManifestTable.deleteWhere(spark, root, "t", $"id" === 10L)
    assert(rows == 1L)
    val after = ManifestTable.current(spark, root).get.entries.map(_.relPath).toSet
    // the untouched file is carried over byte-identical (same relPath)
    assert((before intersect after).nonEmpty, "untouched files carried, not rewritten")
    assert(ManifestTable.read(spark, root, "t").select("id")
      .as[Long].collect().toSet == Set(1L, 2L, 11L))
    // NULL predicate means KEEP (SQL DELETE semantics)
    ManifestTable.overwrite(spark, root, "nulls",
      Seq((1L, Some("alice")), (2L, Option.empty[String])).toDF("id", "who"))
    val (_, d) = ManifestTable.deleteWhere(spark, root, "nulls", $"who" === "alice")
    assert(d == 1L)
    assert(ManifestTable.read(spark, root, "nulls").select("id")
      .as[Long].collect().toSet == Set(2L))
  }

  test("deleting every row leaves a readable empty table with its schema") {
    val root = tmpDir("mtdelall")
    ManifestTable.overwrite(spark, root, "t", Seq((1L, "a")).toDF("id", "v"))
    val (_, d) = ManifestTable.deleteWhere(spark, root, "t", lit(true))
    assert(d == 1L)
    val after = ManifestTable.read(spark, root, "t")
    assert(after.count() == 0L && after.columns.toSeq == Seq("id", "v"))
  }

  test("compact merges small files into a new version; old version still readable") {
    val root = tmpDir("mtcompact")
    (1 to 5).foreach { i =>
      ManifestTable.appendNew(spark, root, "t",
        Seq((i.toLong, s"v$i")).toDF("id", "v"), Seq("id"))
    }
    val vPre = ManifestTable.current(spark, root).get.version
    val (before, afterN) = ManifestTable.compact(spark, root, "t")
    assert(before == 5L && afterN == 1L)
    assert(ManifestTable.read(spark, root, "t").count() == 5L)
    // pre-compaction snapshot still readable (background compaction)
    assert(ManifestTable.readAt(spark, root, "t", vPre).count() == 5L)
  }

  test("per-file min/max stats skip files; results equal the full scan") {
    val root = tmpDir("mtstats")
    // three appends with disjoint id ranges -> three files with tight stats
    Seq(0L, 100L, 200L).foreach { base =>
      ManifestTable.appendNew(spark, root, "t",
        spark.range(base, base + 10).toDF("id").withColumn("v", $"id" * 2),
        Seq("id"), statsCol = Some("id"))
    }
    val (kept, total) = ManifestTable.pruneStats(spark, root, "t", 100L, 109L)
    assert(total >= 3L && kept < total, s"skipping must drop files ($kept/$total)")
    val pruned = ManifestTable.readPruned(spark, root, "t", "id", 100L, 109L)
      .select("id").as[Long].collect().toSet
    assert(pruned == (100L to 109L).toSet)
    // compaction clustered on the stats column keeps skipping effective
    ManifestTable.compact(spark, root, "t", targetFileBytes = 1L,
      statsCol = Some("id"))
    val (k2, t2) = ManifestTable.pruneStats(spark, root, "t", 0L, 5L)
    assert(k2 < t2, "stats survive compaction")
    assert(ManifestTable.readPruned(spark, root, "t", "id", 0L, 5L)
      .count() == 6L)
  }

  test("vacuum collects superseded files but keeps requested history") {
    val root = tmpDir("mtvac")
    ManifestTable.overwrite(spark, root, "t", Seq((1, "a")).toDF("id", "v"))
    ManifestTable.overwrite(spark, root, "t", Seq((2, "b")).toDF("id", "v"))
    ManifestTable.overwrite(spark, root, "t", Seq((3, "c")).toDF("id", "v"))
    // keep 2 versions: v3 and v2 readable, v1's files collected
    val n = ManifestTable.vacuum(spark, root, keepVersions = 2)
    assert(n >= 1L)
    assert(ManifestTable.read(spark, root, "t").select("id")
      .as[Int].collect().toSeq == Seq(3))
    assert(ManifestTable.readAt(spark, root, "t", 2L).select("id")
      .as[Int].collect().toSeq == Seq(2))
    intercept[IllegalArgumentException] {
      ManifestTable.readAt(spark, root, "t", 1L)
    }
  }

  test("concurrent committers: the later writer of the same version fails cleanly") {
    val root = tmpDir("mtconc")
    ManifestTable.publish(spark, root, Map("t" -> Seq((1, "a")).toDF("id", "v")))
    // simulate a racer that already took version 2
    ManifestTable.publish(spark, root, Map("t" -> Seq((2, "b")).toDF("id", "v")))
    // a writer that resolved v1 and tries to commit v2 again: the
    // optimistic existence check refuses rather than clobbering
    val e = intercept[java.io.IOException] {
      val m = ManifestTable.getClass.getDeclaredMethods
        .find(_.getName == "writeCommit").get
      m.setAccessible(true)
      try m.invoke(ManifestTable,
        new org.apache.hadoop.fs.Path(root)
          .getFileSystem(spark.sparkContext.hadoopConfiguration),
        new org.apache.hadoop.fs.Path(s"file:$root"), java.lang.Long.valueOf(2L),
        Seq(ManifestTable.FileEntry("t", "t/d-x/f.parquet", None, None)),
        None)
      catch { case ite: java.lang.reflect.InvocationTargetException =>
        throw ite.getCause }
    }
    assert(e.getMessage.contains("commit conflict"))
    // table unharmed
    assert(ManifestTable.read(spark, root, "t").select("id")
      .as[Int].collect().toSeq == Seq(2))
  }

  test("fixed-name commits: the rename itself excludes a same-sequence rival") {
    // the mechanism writeCommit relies on (beyond the courtesy listStatus
    // pre-check): Hadoop file:/HDFS rename does NOT overwrite an existing
    // destination file, so the second committer of a sequence loses
    val root = tmpDir("mtmech")
    ManifestTable.publish(spark, root, Map("t" -> Seq((1, "a")).toDF("id", "v")))
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dest = fs.listStatus(new org.apache.hadoop.fs.Path(s"$root/_commits"))
      .map(_.getPath).find(_.getName.endsWith(".txt")).get
    assert(dest.getName == f"c-${1L}%020d.txt", "commit names are fixed per sequence")
    val rival = new org.apache.hadoop.fs.Path(s"$root/_commits/.tmp-rival")
    val out = fs.create(rival, false)
    out.write("t\trival/path.parquet\t\t\n".getBytes); out.close()
    assert(!fs.rename(rival, dest), "rename onto an existing commit must fail")
    fs.delete(rival, false)
    // the committed content is untouched by the losing rival
    assert(ManifestTable.read(spark, root, "t").count() == 1L)
  }

  test("transactionalAppend: replayed batches are no-ops; watermark rides the data commit") {
    val root = tmpDir("mttxn")
    def batch(ids: Long*) = ids.map(i => (i, s"v$i")).toDF("id", "v")

    assert(ManifestTable.transactionalAppend(spark, root, "t", batch(1, 2), "w", 0L))
    assert(ManifestTable.transactionalAppend(spark, root, "t", batch(3), "w", 1L))
    assert(ManifestTable.read(spark, root, "t").count() == 3)

    // exact replay of the last unacknowledged batch (the crash-recovery
    // case): no-op, no new version
    val vBefore = ManifestTable.current(spark, root).get.version
    assert(!ManifestTable.transactionalAppend(spark, root, "t", batch(3), "w", 1L))
    // stale replay from further back: also refused
    assert(!ManifestTable.transactionalAppend(spark, root, "t", batch(1, 2), "w", 0L))
    assert(ManifestTable.current(spark, root).get.version == vBefore)
    assert(ManifestTable.read(spark, root, "t").count() == 3)

    // the watermark is ONE entry per writer, replaced each commit — the
    // commit file does not grow with stream lifetime
    val markers = ManifestTable.current(spark, root).get.entries
      .filter(_.table == "_txn")
    assert(markers.size == 1 && markers.head.min.contains(1L))

    // an independent writer has its own watermark
    assert(ManifestTable.transactionalAppend(spark, root, "t", batch(9), "w2", 0L))
    assert(ManifestTable.read(spark, root, "t").count() == 4)

    // empty batch: acknowledged without a version bump
    val v2 = ManifestTable.current(spark, root).get.version
    assert(ManifestTable.transactionalAppend(spark, root, "t",
      batch(1).filter(lit(false)), "w", 5L))
    assert(ManifestTable.current(spark, root).get.version == v2)
  }

  test("bloom skipping: equality probe opens only might-contain files, result equals full scan") {
    val root = tmpDir("mtbloom")
    // digest is uncorrelated with the id-hash file layout — the case
    // where min/max range stats can never skip anything
    def digested(lo: Long, hi: Long) = spark.range(lo, hi)
      .select($"id", md5(concat(lit("k"), $"id")).as("digest"))
    ManifestTable.publish(spark, root,
      Map("t" -> digested(0, 400).repartition(4, $"id")))
    ManifestTable.indexBloom(spark, root, "t", "digest",
      expectedItemsPerFile = 1000L, fpp = 0.001)
    val target = digested(0, 400).filter($"id" === 123L)
      .select("digest").as[String].head()

    val (kept, total) = ManifestTable.bloomPruneStats(spark, root, "t", "digest", target)
    assert(total == 4L && kept < total, s"kept $kept of $total")
    val hit = ManifestTable.readPrunedEq(spark, root, "t", "digest", target)
    assert(hit.inputFiles.length.toLong == kept, "only might-contain files are in the scan")
    assert(hit.select("id").as[Long].collect().toSeq == Seq(123L))
    // a key that is nowhere: every bloom rejects, zero files opened,
    // empty result WITH the table schema
    val miss = ManifestTable.readPrunedEq(spark, root, "t", "digest", "not-a-digest")
    assert(miss.count() == 0L && miss.columns.toSet == Set("id", "digest"))
    val (kept0, _) = ManifestTable.bloomPruneStats(spark, root, "t", "digest", "not-a-digest")
    assert(kept0 == 0L)

    // appended files carry no bloom yet: counted as kept (never skipped),
    // correctness unaffected; re-indexing re-covers them
    ManifestTable.appendNew(spark, root, "t", digested(400, 500), Seq("id"))
    val (k2, t2) = ManifestTable.bloomPruneStats(spark, root, "t", "digest", "not-a-digest")
    assert(t2 > total && k2 == t2 - total, "bloom-less appended files always open")
    ManifestTable.indexBloom(spark, root, "t", "digest",
      expectedItemsPerFile = 1000L, fpp = 0.001)
    val (k3, _) = ManifestTable.bloomPruneStats(spark, root, "t", "digest", "not-a-digest")
    assert(k3 == 0L)
    assert(ManifestTable.readPrunedEq(spark, root, "t", "digest", target)
      .select("id").as[Long].collect().toSeq == Seq(123L))
  }

  test("commit log at scale: hint resolve is O(1) reads; compactLog bounds the log data-free") {
    val root = tmpDir("mtlog")
    val n = 120
    (1 to n).foreach { i =>
      ManifestTable.overwrite(spark, root, "t",
        Seq((i.toLong, s"v$i")).toDF("id", "v"))
    }
    // resolve over n retained versions: hint GET + one commit parse, no
    // listing — the long-lived-CDC-sink property
    ManifestTable.commitFileReads.set(0L)
    assert(ManifestTable.current(spark, root).get.version == n.toLong)
    val reads = ManifestTable.commitFileReads.get
    assert(reads <= 3L, s"resolve over $n versions cost $reads commit-file reads")

    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val hint = new org.apache.hadoop.fs.Path(root, "_commits/_latest.hint")
    // the hint is a pure accelerator: without it the listing path agrees
    fs.delete(hint, false)
    assert(ManifestTable.current(spark, root).get.version == n.toLong)
    // a stale hint (writer crashed before the refresh) costs only forward
    // probes — resolution still lands on the dense tip
    val out = fs.create(hint, true)
    try out.write((n - 7).toString.getBytes("UTF-8")) finally out.close()
    assert(ManifestTable.current(spark, root).get.version == n.toLong)

    // compactLog: drops all but the newest K commit FILES; the current
    // version, its data, and retained time travel are untouched
    assert(ManifestTable.compactLog(spark, root, keepVersions = 3) == (n - 3).toLong)
    assert(ManifestTable.current(spark, root).get.version == n.toLong)
    assert(ManifestTable.read(spark, root, "t")
      .as[(Long, String)].collect().toSet == Set((n.toLong, s"v$n")))
    assert(ManifestTable.readAt(spark, root, "t", (n - 2).toLong)
      .as[(Long, String)].collect().toSet == Set(((n - 2).toLong, s"v${n - 2}")))
    intercept[IllegalArgumentException] {
      ManifestTable.readAt(spark, root, "t", 1L)
    }
  }

  test("schema evolution: a later append may add columns; mergeSchema reads the union") {
    val root = tmpDir("mtevo")
    ManifestTable.publish(spark, root, Map("t" -> Seq((1L, "a")).toDF("id", "v")))
    assert(ManifestTable.transactionalAppend(spark, root, "t",
      Seq((2L, "b", 9.5)).toDF("id", "v", "score"), "w", 0L))
    val merged = ManifestTable.read(spark, root, "t", mergeSchema = true)
    assert(merged.columns.toSet == Set("id", "v", "score"))
    val rows = merged.orderBy("id").select($"id", $"score").collect()
    assert(rows(0).isNullAt(1), "pre-evolution file null-fills the new column")
    assert(rows(1).getDouble(1) == 9.5)
  }

  test("bloom sidecars pack per write unit: O(1) objects per commit, " +
      "probes and vacuum unchanged") {
    val root = tmpDir("mtpack")
    def digested(lo: Long, hi: Long) = spark.range(lo, hi)
      .select($"id", md5(concat(lit("k"), $"id")).as("digest"))
    // range-clustered so a low-id delete later touches only SOME files
    ManifestTable.publish(spark, root,
      Map("t" -> digested(0, 400).repartitionByRange(6, $"id")),
      bloomCols = Map("t" -> "digest"))
    val (fs, rootP) = graft.etl.IncrementalLoad.fsFor(spark, root)
    def sidecarFiles(): Seq[String] = fs.listStatus(
        new org.apache.hadoop.fs.Path(rootP, "t/_blooms"))
      .map(_.getPath.getName).toSeq.sorted
    // 6 data files x 1 bloom column -> ONE pack object, not 6 sidecars
    val packs = sidecarFiles()
    assert(packs.count(_.startsWith("p-")) == 1,
      s"expected one pack per write unit, got $packs")
    assert(packs.count(_.startsWith("b-")) == 0,
      s"no per-file sidecars expected, got $packs")
    // every entry points into the pack and probes resolve correctly
    val mine = ManifestTable.current(spark, root).get.entries
      .filter(e => e.table == "t" && e.rows.exists(_ > 0))
    assert(mine.forall(_.bloomFor("digest").exists(p =>
      p.contains(".pack.bloom#"))), "entries must point into the pack")
    val target = digested(0, 400).filter($"id" === 123L)
      .select("digest").as[String].head()
    val (kept, total) = ManifestTable.bloomPruneStats(spark, root, "t",
      "digest", target)
    assert(total == 6L && kept >= 1L && kept < total, s"kept $kept/$total")
    assert(ManifestTable.readPrunedEq(spark, root, "t", "digest", target)
      .select("id").as[Long].collect().toSeq == Seq(123L))
    // a predicate delete rewrites only AFFECTED files: the new pack
    // appears, and the ORIGINAL pack survives vacuum because carried
    // (untouched) entries still point into it
    // a delete crossing one range boundary: affected files REWRITE
    // (their survivors get a fresh pack), untouched files carry their
    // pointers into the ORIGINAL pack, which vacuum must keep
    val (nAff, _) = ManifestTable.deleteWhere(spark, root, "t",
      $"id" < 100L, bloomCol = Some("digest"))
    assert(nAff < 6L, s"range clustering must confine the delete, aff=$nAff")
    assert(sidecarFiles().count(_.startsWith("p-")) == 2,
      s"rewrite adds its own pack: ${sidecarFiles()}")
    ManifestTable.vacuum(spark, root, keepVersions = 1)
    val after = sidecarFiles()
    assert(after.count(_.startsWith("p-")) == 2,
      s"carried entries keep the old pack referenced: $after")
    val purged = digested(0, 400).filter($"id" === 42L)
      .select("digest").as[String].head()
    val (k2, t2) = ManifestTable.bloomPruneStats(spark, root, "t",
      "digest", purged)
    assert(k2 == 0L && t2 >= 1L, "purged key: every file's bloom rejects")
    // surviving keys still probe through pack pointers end to end —
    // one from a REWRITTEN file (123, new pack), one from a carried
    // file (300, original pack)
    assert(ManifestTable.readPrunedEq(spark, root, "t", "digest", target)
      .select("id").as[Long].collect().toSeq == Seq(123L))
    val live = digested(0, 400).filter($"id" === 300L)
      .select("digest").as[String].head()
    assert(ManifestTable.readPrunedEq(spark, root, "t", "digest", live)
      .select("id").as[Long].collect().toSeq == Seq(300L))
    // a full overwrite drops every reference to the old packs; vacuum
    // then reclaims them like any unreferenced data file
    ManifestTable.publish(spark, root,
      Map("t" -> digested(400, 500).repartition(2, $"id")),
      bloomCols = Map("t" -> "digest"))
    ManifestTable.vacuum(spark, root, keepVersions = 1)
    val fin = sidecarFiles()
    assert(fin.count(_.startsWith("p-")) == 1,
      s"superseded packs must be reclaimed: $fin")
  }

  test("a hand-edited bloom pack pointer fails with a require naming it") {
    val root = tmpDir("mtpackbad")
    ManifestTable.publish(spark, root,
      Map("t" -> spark.range(0, 100).select($"id",
        md5(concat(lit("k"), $"id")).as("digest")).repartition(2)),
      bloomCols = Map("t" -> "digest"))
    val commit = new java.io.File(s"$root/_commits").listFiles()
      .filter(_.getName.startsWith("c-")).head
    val good = new String(java.nio.file.Files.readAllBytes(commit.toPath),
      "UTF-8")
    def b64(x: String) = java.util.Base64.getEncoder
      .encodeToString(x.getBytes("UTF-8"))
    def unb64(x: String) =
      new String(java.util.Base64.getDecoder.decode(x), "UTF-8")
    // rewrite the `#<offset>:<len>` fragment of every `P:` pointer group
    def probeWith(fragment: String): String = {
      val edited = good.split("\n", -1).map(_.split("\t", -1).map { g =>
        g.split(":", -1) match {
          case Array("P", c, ptr) =>
            val rel = unb64(ptr)
            s"P:$c:${b64(rel.substring(0, rel.indexOf('#') + 1) + fragment)}"
          case _ => g
        }
      }.mkString("\t")).mkString("\n")
      java.nio.file.Files.write(commit.toPath, edited.getBytes("UTF-8"))
      // the local filesystem's checksum would reject the edit first
      new java.io.File(commit.getParent, s".${commit.getName}.crc").delete()
      ManifestTable.dropStateCacheForTest()
      intercept[IllegalArgumentException] {
        ManifestTable.bloomPruneStats(spark, root, "t", "digest", "x")
      }.getMessage
    }
    val malformed = probeWith("12:x")
    assert(malformed.contains("corrupt bloom pack pointer") &&
      malformed.contains(".pack.bloom#12:x"), malformed)
    assert(probeWith("7").contains(".pack.bloom#7"))
    val beyond = probeWith("99999:16")
    assert(beyond.contains("out of range") &&
      beyond.contains(".pack.bloom#99999:16"), beyond)
  }
}
