package graft

import java.sql.Date

import org.apache.spark.graftbridge.ListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

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
    // a file the delete empties leaves the commit; the others stay carried
    assert(ManifestTable.deleteWhere(spark, root, "t", $"id" === 11L)._2 == 1L)
    val left = ManifestTable.current(spark, root).get.entries
    assert(left.map(_.relPath).toSet.subsetOf(before intersect after))
    assert(left.forall(_.rows.exists(_ > 0L)), s"no emptied file committed: $left")
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
    assert(ManifestTable.deleteWhere(spark, root, "t", lit(true)) == ((0L, 0L)))
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
    assert(ManifestTable.read(spark, root, "t").as[(Long, String)].collect()
      .toSet == (1 to 5).map(i => (i.toLong, s"v$i")).toSet)
    // the compacted table stays idempotent under appendNew
    assert(ManifestTable.appendNew(spark, root, "t",
      Seq((1L, "v1")).toDF("id", "v"), Seq("id")) == 0L)
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
    def range(lo: Long, hi: Long) = ManifestTable.readPruned(spark, root, "t", "id", lo, hi)
    val (kept, total) = graft.etl.ManifestFileIndex.filesKept(range(100L, 109L))
    assert(total >= 3L && kept < total, s"skipping must drop files ($kept/$total)")
    val pruned = range(100L, 109L).select("id").as[Long].collect().toSet
    assert(pruned == (100L to 109L).toSet)
    // compaction clustered on the stats column keeps skipping effective
    ManifestTable.compact(spark, root, "t", targetFileBytes = 1L,
      statsCol = Some("id"))
    val (k2, t2) = graft.etl.ManifestFileIndex.filesKept(range(0L, 5L))
    assert(k2 < t2, "stats survive compaction")
    assert(range(0L, 5L).count() == 6L)
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
    ManifestTable.indexBloom(spark, root, "t", "digest", fpp = 0.001)
    val target = digested(0, 400).filter($"id" === 123L)
      .select("digest").as[String].head()

    def probe(v: String) = graft.etl.ManifestFileIndex.filesKept(
      ManifestTable.readPrunedEq(spark, root, "t", "digest", v))
    val hit = ManifestTable.readPrunedEq(spark, root, "t", "digest", target)
    val (kept, total) = graft.etl.ManifestFileIndex.filesKept(hit)
    assert(total == 4L && kept < total, s"kept $kept of $total")
    assert(hit.inputFiles.length.toLong == kept, "only might-contain files are in the scan")
    assert(hit.select("id").as[Long].collect().toSeq == Seq(123L))
    // a key that is nowhere: every bloom rejects, zero files opened,
    // empty result WITH the table schema
    val miss = ManifestTable.readPrunedEq(spark, root, "t", "digest", "not-a-digest")
    assert(miss.count() == 0L && miss.columns.toSet == Set("id", "digest"))
    val (kept0, _) = probe("not-a-digest")
    assert(kept0 == 0L)

    // appended files carry no bloom yet: counted as kept (never skipped),
    // correctness unaffected; re-indexing re-covers them
    ManifestTable.appendNew(spark, root, "t", digested(400, 500), Seq("id"))
    val (k2, t2) = probe("not-a-digest")
    assert(t2 > total && k2 == t2 - total, "bloom-less appended files always open")
    ManifestTable.indexBloom(spark, root, "t", "digest", fpp = 0.001)
    val (k3, _) = probe("not-a-digest")
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
    val (fs, rootP) = ManifestTable.fsFor(spark, root)
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
    def probe(v: String) = graft.etl.ManifestFileIndex.filesKept(
      ManifestTable.readPrunedEq(spark, root, "t", "digest", v))
    val (kept, total) = probe(target)
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
    val (k2, t2) = probe(purged)
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
            s"P:$c:${b64(rel.substring(0, rel.indexOf('#')) + fragment)}"
          case _ => g
        }
      }.mkString("\t")).mkString("\n")
      java.nio.file.Files.write(commit.toPath, edited.getBytes("UTF-8"))
      // the local filesystem's checksum would reject the edit first
      new java.io.File(commit.getParent, s".${commit.getName}.crc").delete()
      ManifestTable.dropStateCacheForTest()
      intercept[IllegalArgumentException] {
        ManifestTable.readPrunedEq(spark, root, "t", "digest", "x").collect()
      }.getMessage
    }
    val malformed = probeWith("#12:x")
    assert(malformed.contains("corrupt bloom pack pointer") &&
      malformed.contains(".pack.bloom#12:x"), malformed)
    assert(probeWith("#7").contains(".pack.bloom#7"))
    // a pointer without any fragment is no pack slice either
    val bare = probeWith("")
    assert(bare.contains("corrupt bloom pack pointer") &&
      bare.endsWith(".pack.bloom"), bare)
    val beyond = probeWith("#99999:16")
    assert(beyond.contains("out of range") &&
      beyond.contains(".pack.bloom#99999:16"), beyond)
  }

  test("one on-disk format: every commit and checkpoint line is #2, data " +
      "entries carry bytes and rows, every bloom is a pack slice") {
    val root = tmpDir("mtformat")
    def digested(lo: Long, hi: Long) = spark.range(lo, hi)
      .select($"id", md5(concat(lit("k"), $"id")).as("digest"))
    val (stats, bloom) = (Some("id"), Some("digest"))
    ManifestTable.publish(spark, root,
      Map("t" -> digested(0, 40).repartition(2)),
      statsCols = Map("t" -> "id"), bloomCols = Map("t" -> "digest"))
    ManifestTable.appendNew(spark, root, "t", digested(40, 50), Seq("id"),
      statsCol = stats, bloomCol = bloom)
    ManifestTable.mergeInto(spark, root, "t", digested(45, 55), Seq("id"),
      statsCol = stats, bloomCol = bloom)
    assert(ManifestTable.transactionalMerge(spark, root, "t",
      digested(55, 60), digested(0, 0).select("id"), Seq("id"), "w", 0L,
      statsCol = stats, bloomCol = bloom))
    // every row goes: the commit keeps one rowless schema-keeper file
    assert(ManifestTable.deleteWhere(spark, root, "t", lit(true),
      statsCol = stats, bloomCol = bloom)._2 == 60L)
    ManifestTable.compact(spark, root, "t", statsCol = stats,
      bloomCol = bloom)
    def bodies(prefix: String) = new java.io.File(s"$root/_commits")
      .listFiles().filter(_.getName.startsWith(prefix)).sortBy(_.getName)
      .toSeq.map { f => f.getName -> new String(
        java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
        .split("\n").filter(_.nonEmpty).toSeq }
    val commits = bodies("c-")
    assert(commits.size == 6, commits.map(_._1))
    ManifestTable.compactLog(spark, root)
    val checkpoints = bodies("k-")
    assert(checkpoints.nonEmpty, "compactLog lands a k- checkpoint")
    val entries = (commits ++ checkpoints).flatMap { case (name, lines) =>
      lines.filterNot(l => l == ManifestTable.DeltaMarker ||
          l.startsWith(ManifestTable.RemoveMarker + "\t"))
        .map { l =>
          assert(l.startsWith("#2\t"), s"$name: $l")
          val Seq(e) = ManifestTable.parseEntryLines(Iterator(l), name)
          e
        }
    }
    val data = entries.filter(_.table == "t")
    assert(entries.exists(_.table == "_txn") && data.nonEmpty)
    assert(data.forall(e => e.bytes.isDefined && e.rows.isDefined), data)
    val Pointer = """@t/_blooms/p-[0-9a-f]+\.pack\.bloom#\d+:\d+""".r
    val payloads = data.flatMap(e => (e.bloom.toSeq ++ e.blooms2).map(_._2))
    assert(data.forall(_.bloomFor("digest").isDefined) &&
      payloads.forall(Pointer.matches), payloads.distinct)
    assert(data.exists(_.rows.contains(0L)), "the rowless keeper is listed")
    val blooms = new java.io.File(s"$root/t/_blooms").list().toSeq
    assert(!blooms.exists(_.startsWith("b-")), blooms)
    // the keeper reads back empty with its schema and opens no file on a
    // point lookup: its empty filter rejects every probe
    ManifestTable.dropStateCacheForTest()
    assert(ManifestTable.read(spark, root, "t").columns.toSeq ==
      Seq("id", "digest"))
    assert(graft.etl.ManifestFileIndex.filesKept(
      ManifestTable.readPrunedEq(spark, root, "t", "digest", "x")) == ((0L, 1L)))
    // hand-written commits outside the grammar fail naming the file
    def b64(x: String) = java.util.Base64.getEncoder
      .encodeToString(x.getBytes("UTF-8"))
    Seq("four-field" -> "t\tt/d-x/a.parquet\t1\t1",
      "inline-bloom" -> s"#2\tt\tt/d-x/a.parquet\t9\tB:${b64("id")}:AAAA\tR:1",
      "no-rows" -> s"#2\tt\tt/d-x/a.parquet\t9\tS:${b64("id")}:1:1")
      .foreach { case (name, line) =>
        val r = tmpDir(s"mtformat-$name")
        new java.io.File(s"$r/_commits").mkdirs()
        java.nio.file.Files.write(java.nio.file.Paths.get(
          s"$r/_commits/c-00000000000000000001.txt"),
          (line + "\n").getBytes("UTF-8"))
        val msg = intercept[java.io.IOException](
          ManifestTable.current(spark, r)).getMessage
        assert(msg.contains("corrupt commit line") &&
          msg.contains("c-00000000000000000001.txt"), s"$name: $msg")
      }
  }

  /** Spark jobs started while `body` runs. */
  private def jobsOf(body: => Any): Int = {
    val sc = spark.sparkContext
    val n = new java.util.concurrent.atomic.AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    ListenerBridge.drain(sc)
    sc.addSparkListener(l)
    try { body; ListenerBridge.drain(sc) } finally sc.removeSparkListener(l)
    n.get
  }

  private def filesOf(root: String, table: String): Seq[String] =
    ManifestTable.current(spark, root).get.entries.filter(_.table == table)
      .map(e => new org.apache.hadoop.fs.Path(root, e.relPath).toString)

  test("reads plan from the schema recorded at write time: a pruned read " +
      "runs only its scan job, and none when no file survives") {
    val root = tmpDir("mtplan")
    def digested(lo: Long, hi: Long) = spark.range(lo, hi)
      .select($"id", md5(concat(lit("k"), $"id")).as("digest"))
    ManifestTable.publish(spark, root,
      Map("t" -> digested(0, 400).repartitionByRange(4, $"id")),
      statsCols = Map("t" -> "id"), bloomCols = Map("t" -> "digest"))
    val target = digested(0, 400).filter($"id" === 123L)
      .select("digest").as[String].head()
    // the publish recorded the schema: no inference job before the scan
    var hit = Array.empty[Row]
    assert(jobsOf { hit = ManifestTable.readPrunedEq(spark, root, "t",
      "digest", target).collect() } == 1)
    assert(hit.map(_.getLong(0)).toSeq == Seq(123L))
    val absent = Iterator.from(0).map(i => s"absent-$i").find(v =>
      graft.etl.ManifestFileIndex.filesKept(
        ManifestTable.readPrunedEq(spark, root, "t", "digest", v))._1 == 0L).get
    var none = Array.empty[Row]
    assert(jobsOf { none = ManifestTable.readPrunedEq(spark, root, "t",
      "digest", absent).collect() } == 0)
    assert(none.isEmpty)
    var range = Array.empty[Row]
    assert(jobsOf { range = ManifestTable.readPruned(spark, root, "t", "id",
      150L, 159L).collect() } == 1)
    assert(range.map(_.getLong(0)).toSet == (150L to 159L).toSet)
    // a range no file covers lists no file and runs no job either
    val empty = ManifestTable.readPruned(spark, root, "t", "id", 1000L, 2000L)
    assert(jobsOf(empty.collect()) == 0)
    assert(empty.inputFiles.isEmpty &&
      empty.schema == spark.read.parquet(filesOf(root, "t"): _*).schema)
  }

  /** Paths the manifest scans of `df`'s executed plan open. */
  private def openedFiles(df: org.apache.spark.sql.DataFrame): Set[String] = {
    object Plans extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    Plans.collectWithSubqueries(df.queryExecution.executedPlan) {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.selectedPartitions.filePartitionIterator.flatMap(_.files)
          .map(_.getPath.toUri.getPath).toSeq
    }.flatten.toSet
  }

  test("a plain read(...).filter opens only the files the index keeps: " +
      "min/max for a range, blooms for a point; two reads of one version " +
      "are one relation to the cache") {
    val root = tmpDir("mtindex")
    def digested(lo: Long, hi: Long) = spark.range(lo, hi)
      .select($"id", md5(concat(lit("k"), $"id")).as("digest"))
    ManifestTable.publish(spark, root,
      Map("t" -> digested(0, 400).repartitionByRange(4, $"id")),
      statsCols = Map("t" -> "id"), bloomCols = Map("t" -> "digest"))
    val entries = ManifestTable.current(spark, root).get.entries
      .filter(_.table == "t")
    def pathOf(e: ManifestTable.FileEntry) =
      new org.apache.hadoop.fs.Path(root, e.relPath).toUri.getPath
    // range: exactly the files whose recorded [min, max] meets [150, 159]
    val inRange = entries.filter(_.statsFor("id").exists { case (mn, mx) =>
      mx >= 150L && mn <= 159L }).map(pathOf).toSet
    val range = ManifestTable.read(spark, root, "t").filter($"id".between(150L, 159L))
    assert(range.select("id").as[Long].collect().toSet == (150L to 159L).toSet)
    assert(entries.size == 4 && inRange.size == 1, s"fixture: $inRange")
    assert(graft.etl.ManifestFileIndex.filesKept(range) == ((1L, 4L)))
    assert(openedFiles(range) == inRange)
    assert(range.inputFiles.map(f => new java.net.URI(f).getPath).toSet == inRange)
    // point: exactly the files whose bloom may hold the digest
    val target = digested(123, 124).select("digest").as[String].head()
    def bloomOf(e: ManifestTable.FileEntry) = {
      val Array(rel, slice) = e.bloomFor("digest").get
        .stripPrefix(ManifestTable.PointerMark).split("#")
      val Array(o, l) = slice.split(":").map(_.toInt)
      org.apache.spark.util.sketch.BloomFilter.readFrom(
        new java.io.ByteArrayInputStream(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(root, rel)), o, l))
    }
    val positive = entries.filter(bloomOf(_).mightContainString(target))
      .map(pathOf).toSet
    val point = ManifestTable.read(spark, root, "t").filter($"digest" === target)
    assert(point.select("id").as[Long].collect().toSeq == Seq(123L))
    assert(positive.nonEmpty && positive.size < 4, s"fixture: $positive")
    assert(openedFiles(point) == positive)
    // one version, two reads: one relation to sameResult and the cache
    val (a, b) = (ManifestTable.read(spark, root, "t"), ManifestTable.read(spark, root, "t"))
    assert(a.queryExecution.analyzed.sameResult(b.queryExecution.analyzed))
    a.cache().count()
    try {
      assert(b.storageLevel != org.apache.spark.storage.StorageLevel.NONE,
        "the second read is served by the first's cache")
      ManifestTable.appendNew(spark, root, "t", digested(400, 410), Seq("id"),
        statsCol = Some("id"), bloomCol = Some("digest"))
      assert(ManifestTable.read(spark, root, "t").storageLevel ==
        org.apache.spark.storage.StorageLevel.NONE, "a new version is another relation")
    } finally a.unpersist()
  }

  test("the recorded schema is the one Spark infers, for logical and " +
      "nested types, under either binaryAsString setting") {
    val root = tmpDir("mtschema")
    val df = spark.range(0, 6).select(
      $"id",
      date_add(lit(Date.valueOf("2020-01-01")), $"id".cast("int")).as("d"),
      timestamp_seconds($"id" * 3600L).as("ts"),
      ($"id" / 3).cast("decimal(20,4)").as("amt"),
      $"id".cast("string").cast("binary").as("raw"),
      struct($"id".as("a"), array($"id", $"id" + 1).as("xs")).as("nest"),
      array(struct($"id".cast("string").as("b"))).as("arr"))
      .repartition(2)
    ManifestTable.publish(spark, root, Map("t" -> df),
      statsCols = Map("t" -> "id"))
    val files = filesOf(root, "t")
    def inferred = spark.read.parquet(files: _*).schema
    def check(planJobs: Int): Unit = {
      var read: org.apache.spark.sql.DataFrame = null
      assert(jobsOf { read = ManifestTable.read(spark, root, "t") } == planJobs)
      assert(read.schema == inferred)
      assert(read.orderBy("id").collect().toSeq ==
        spark.read.parquet(files: _*).orderBy("id").collect().toSeq)
      assert(ManifestTable.readPruned(spark, root, "t", "id", 2L, 3L)
        .schema == inferred)
      assert(ManifestTable.readPruned(spark, root, "t", "id", 90L, 99L)
        .schema == inferred, "the empty relation of a fully pruned read")
    }
    check(planJobs = 0) // recorded by the publish
    // other conversion settings are another cache key: inferred once
    val key = "spark.sql.parquet.binaryAsString"
    spark.conf.set(key, "true")
    try check(planJobs = 1) finally spark.conf.unset(key)
    check(planJobs = 0)
  }

  test("the schema cache is bounded in bytes: writing past the bound " +
      "evicts, and an evicted table still reads its schema and rows") {
    val names = (0 until 64).map(i => f"c$i%02d_" + "x" * 8000)
    def wide(v: Long) = spark.range(v, v + 1)
      .select($"id" +: names.map(n => ($"id" * 2).as(n)): _*)
    val first = tmpDir("mtwide") + "/t"
    ManifestTable.publish(spark, first, Map("t" -> wide(0L)))
    val (entries0, bytes0) = ManifestTable.schemaCacheFootprint
    assert(bytes0 <= ManifestTable.SchemaCacheBytes)
    // each wide schema weighs at least its column names
    val perSchema = names.map(_.length.toLong).sum
    val more = (ManifestTable.SchemaCacheBytes / perSchema).toInt + 1
    (1 to more).foreach { i =>
      ManifestTable.publish(spark, tmpDir("mtwide") + "/t",
        Map("t" -> wide(i.toLong)))
      assert(ManifestTable.schemaCacheFootprint._2 <=
        ManifestTable.SchemaCacheBytes)
    }
    assert(ManifestTable.schemaCacheFootprint._1 < entries0 + more,
      "writing past the bound must evict entries")
    // the first table's schema was evicted: its next read infers it once
    var read: org.apache.spark.sql.DataFrame = null
    assert(jobsOf { read = ManifestTable.read(spark, first, "t") } == 1)
    assert(read.schema == spark.read.parquet(filesOf(first, "t"): _*).schema)
    assert(read.collect().toSeq == wide(0L).collect().toSeq)
    assert(jobsOf(ManifestTable.read(spark, first, "t")) == 0,
      "the inferred schema is cached again")
  }

  test("deleteWhere keeps rows whose predicate is NULL and counts only " +
      "the rows it deleted") {
    val rows = Seq((1L, Some(5L)), (2L, None), (3L, Some(50L)),
      (4L, None), (5L, Some(7L)), (6L, None))
    val df = rows.toDF("id", "score").repartition(2)
    val pred = $"score" < 10L // NULL on ids 2, 4 and 6
    // the deleted count is manifest row arithmetic over footer counts
    val root = tmpDir("mtnull") + "/t"
    ManifestTable.overwrite(spark, root, "t", df)
    val (_, deleted) = ManifestTable.deleteWhere(spark, root, "t", pred)
    assert(deleted == 2L, s"deleted count $deleted")
    assert(ManifestTable.read(spark, root, "t").select("id").as[Long]
      .collect().toSet == Set(2L, 3L, 4L, 6L))
  }

  test("footer-derived DATE and LONG stats equal the scan-derived ones, " +
      "an all-NULL file included") {
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("d", DateType), StructField("n", LongType),
      StructField("k", StringType)))
    def day(s: String) = Date.valueOf(s)
    // three files: mixed values, stats columns all NULL, negative values
    val data = Seq(
      Row(1L, day("2020-01-05"), -3L, "a"), Row(2L, day("2019-12-31"), 40L, "b"),
      Row(3L, null, null, "c"), Row(4L, null, null, "d"),
      Row(5L, day("1969-12-30"), Long.MinValue + 1, "e"),
      Row(6L, day("2021-06-01"), 7L, "f"))
    def df = spark.createDataFrame(spark.sparkContext.parallelize(data, 3), schema)
    val footer = tmpDir("mtfooter") + "/t"
    ManifestTable.publish(spark, footer, Map("t" -> df),
      statsCols = Map("t" -> "d"), extraStatsCols = Map("t" -> Seq("n")))
    // a bloom column sends the same write through the stats scan
    val scanned = tmpDir("mtscanstats") + "/t"
    ManifestTable.publish(spark, scanned, Map("t" -> df),
      statsCols = Map("t" -> "d"), extraStatsCols = Map("t" -> Seq("n")),
      bloomCols = Map("t" -> "k"))
    def entries(root: String) = ManifestTable.current(spark, root).get
      .entries.filter(_.table == "t").sortBy(_.relPath.split("/").last)
    val (fe, se) = (entries(footer), entries(scanned))
    assert(fe.size == 3 && se.size == 3)
    assert(fe.forall(_.bloomFor("k").isEmpty) && se.forall(_.bloomFor("k").isDefined))
    fe.zip(se).foreach { case (f, s) =>
      Seq("d", "n").foreach { c =>
        assert(f.statsFor(c) == s.statsFor(c),
          s"$c stats of ${f.relPath}: footer ${f.statsFor(c)}, " +
            s"scan ${s.statsFor(c)}")
      }
      assert(f.rows == s.rows)
    }
    assert(fe(1).statsFor("d").isEmpty && fe(1).statsFor("n").isEmpty,
      "an all-NULL file records no range")
    assert(fe(0).statsFor("d").contains((18261L, 18266L)) &&
      fe(2).statsFor("n").contains((Long.MinValue + 1, 7L)))
    def pruned(root: String, c: String, lo: Long, hi: Long) =
      ManifestTable.readPruned(spark, root, "t", c, lo, hi)
        .select("id").as[Long].collect().toSet
    Seq(("d", -2L, -2L), ("d", 18262L, 18800L), ("n", -5L, 10L),
        ("n", Long.MinValue, 0L)).foreach { case (c, lo, hi) =>
      assert(pruned(footer, c, lo, hi) == pruned(scanned, c, lo, hi),
        s"readPruned $c in [$lo, $hi]")
    }
    assert(pruned(footer, "d", 18262L, 18800L) == Set(1L, 6L))
  }

  test("write tasks gather each file's stats and blooms in the write job: " +
      "the same bytes as the post-write pass, which still covers a task " +
      "that overflows its key buffer") {
    // 4 tasks -> 4 files; x is DOUBLE (scan-only stats, and a bloom key
    // whose raw rendering differs from its long form), g has NULLs
    val data = spark.range(0, 2000, 1, 4).select($"id",
      ($"id" * 0.5).as("x"),
      when($"id" % 9 === 0, lit(null)).otherwise($"id" % 50).as("g"))
    def write(root: String): Unit = ManifestTable.publish(spark, root,
      Map("t" -> data), statsCols = Map("t" -> "x"),
      bloomCols = Map("t" -> "g"), extraBloomCols = Map("t" -> Seq("x")))
    def entries(root: String) = ManifestTable.current(spark, root).get
      .entries.filter(_.table == "t").sortBy(_.relPath.split("/").last.take(10))
    def bloomBytes(root: String, payload: String): Seq[Byte] = {
      val Array(rel, slice) = payload.stripPrefix(ManifestTable.PointerMark)
        .split("#")
      val Array(o, l) = slice.split(":").map(_.toInt)
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(root, rel))
        .slice(o, o + l).toSeq
    }
    val tapped = tmpDir("mttap")
    val tapJobs = jobsOf(write(tapped))
    val passed = tmpDir("mttap-pass")
    val prev = ManifestTable.TapBufferBytes
    ManifestTable.TapBufferBytes = -1L // every task overflows at once
    val passJobs = try jobsOf(write(passed))
      finally ManifestTable.TapBufferBytes = prev
    assert(tapJobs < passJobs,
      s"the tapped write runs no post-write pass: $tapJobs vs $passJobs jobs")
    val (a, b) = (entries(tapped), entries(passed))
    assert(a.size == 4 && b.size == 4, s"${a.size} / ${b.size} files")
    a.zip(b).foreach { case (t, p) =>
      assert(t.rows == p.rows && t.statsFor("x") == p.statsFor("x"),
        s"${t.relPath}: ${t.statsFor("x")} vs ${p.statsFor("x")}")
      Seq("g", "x").foreach { c =>
        assert(bloomBytes(tapped, t.bloomFor(c).get) ==
          bloomBytes(passed, p.bloomFor(c).get), s"$c bloom of ${t.relPath}")
      }
    }
    // the filters answer for the keys they hold, in both renderings
    assert(ManifestTable.readPrunedEq(spark, tapped, "t", "x", "10.5")
      .select("id").as[Long].collect().toSeq == Seq(21L))
    assert(ManifestTable.read(spark, tapped, "t").filter($"g".isin(7L))
      .count() == data.filter($"g" === 7).count())
  }
}
