package perfbench

import java.io.File
import java.nio.file.{Files => NFiles, StandardCopyOption}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.etl.ManifestTable
import graft.streaming.CdcApply

/** Many small CDC commits beside point and range reads on one
  * ManifestTable: one `Trigger.AvailableNow` run of `CdcApply.applyStream`
  * per change batch, then bloom-pruned key lookups and stats-pruned date
  * scans against the new version. A pass is one such batch cycle. */
final class TableCdc(sizes: Gen.CdcSizes) extends Workload {
  import TableCdc._

  val name = "table_cdc_mixed"
  val Table = "events"

  private var dir: File = _
  private var truth: Gen.CdcTruth = _
  private var applied = 0
  private var root: String = _
  private var rootDir: File = _
  private var checkpoint: String = _
  /** Table version and log-compaction files after the last batch. */
  private var version = 0L
  private var logFiles = Set.empty[String]

  private val lookupFiles = mutable.ArrayBuffer.empty[Double]
  private var lookupHits = 0L
  private val scanFiles = mutable.ArrayBuffer.empty[Double]
  private var scanUseful = 0L
  private val commitObjects = mutable.ArrayBuffer.empty[Double]
  private var commitUserBytes = 0L
  private var compactions = 0
  private var tracedCompactions = 0
  private var compactMs = 0L
  private var compactBytes = 0L
  private var logCompactions = 0
  private val spaceAmps = mutable.ArrayBuffer.empty[Double]
  private var liveFiles = 0

  private val changeSchema = StructType(Seq(StructField("k", LongType), StructField("seq", LongType),
    StructField("op", StringType), StructField("d", DateType), StructField("payload", StringType),
    StructField("digest", StringType)))

  def generate(d: File, seed: Long): Unit = {
    dir = d
    truth = Gen.cdc(new File(d, "cdc"), seed, sizes)
  }

  override def hasNext: Boolean = applied < truth.batches.size

  /** A batch cycle is short and the JVM warms over many of them: after
    * two the next cycle's calls still took 25-50% more CPU than the
    * tenth, after four 15-20% more. */
  override def warmups: Int = 4

  /** Seeds the table: clustered by date (range-partitioned into
    * `SeedFiles` files), min/max stats on the date, a bloom on the key. */
  override def setup(spark: SparkSession, d: File): Unit = {
    rootDir = new File(d, "table")
    root = rootDir.getAbsolutePath
    checkpoint = new File(d, "checkpoint").getAbsolutePath
    val seed = spark.read.schema(changeSchema).option("header", "true")
      .csv(truth.seedFile.getAbsolutePath)
      .select("k", "seq", "d", "payload", "digest")
      .repartitionByRange(SeedFiles, col("d")).sortWithinPartitions("d")
    version = ManifestTable.publish(spark, root, Map(Table -> seed),
      statsCols = Map(Table -> "d"), bloomCols = Map(Table -> "k"))
    logFiles = logCompactionFiles()
  }

  private def logCompactionFiles(): Set[String] =
    Option(new File(rootDir, "_commits").list()).map(_.filter(_.startsWith("k-")).toSet)
      .getOrElse(Set.empty)

  def pass(ctx: PassCtx): Long = {
    val spark = ctx.spark
    val b = truth.batches(applied)
    val traced = ctx.tr.isDefined
    val in = new File(dir, "stream-in")
    in.mkdirs()
    val v0 = version
    val before = if (traced) Files.listing(rootDir) else Map.empty[String, Long]

    // one change file lands, one AvailableNow trigger applies it
    NFiles.copy(b.file.toPath, new File(in, b.file.getName).toPath,
      StandardCopyOption.REPLACE_EXISTING)
    val committed = ctx.ops.run("commit", ctx.timed) {
      ctx.span("CdcApply.applyStream") {
        val stream = spark.readStream.schema(changeSchema).option("header", "true")
          .csv(in.getAbsolutePath)
        val q = CdcApply.applyStream(stream, root, Table, Seq("k"), Seq("seq"), "op", checkpoint,
            statsCol = Some("d"), compactLogEvery = CompactLogEvery,
            keepVersions = KeepVersions, compactAtFileCount = CompactAtFileCount,
            bloomCol = Some("k"))
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        q.exception.foreach(e => throw e)
      }
    }(_ => None)
    applied += 1
    if (traced) {
      commitObjects += (Files.listing(rootDir).keySet -- before.keySet).size
      commitUserBytes += b.bytes
    }
    if (committed.isEmpty) return 0L

    val cur = ctx.ops.run("resolve", ctx.timed)(
      ctx.span("ManifestTable.current")(ManifestTable.current(spark, root)))(c =>
      if (c.exists(_.version > v0)) None else Some(s"no version after $v0 once the batch applied")).flatten
    cur.foreach { c =>
      // one merge commit per batch; any further version is a compaction
      val compacted = math.max(0, (c.version - v0 - 1).toInt)
      version = c.version
      compactions += compacted
      val k = logCompactionFiles()
      if (!k.subsetOf(logFiles)) logCompactions += 1
      logFiles = k
      val mine = c.entries.filter(_.table == Table)
      liveFiles = mine.size
      if (traced && compacted > 0) {
        // compaction rewrites the whole table after the merge commit: its
        // time is the gap between the two commit files, its bytes the
        // table's files it leaves
        def commitFile(v: Long) = new File(rootDir, f"_commits/c-$v%020d.txt")
        tracedCompactions += compacted
        compactMs += commitFile(c.version).lastModified() - commitFile(v0 + 1).lastModified()
        compactBytes += mine.map(e => new File(rootDir, e.relPath).length()).sum
      }
      val rows = mine.map(_.rows.getOrElse(-1L))
      ctx.ops.run("check", timed = false)(()) { _ =>
        if (rows.contains(-1L) || rows.sum == b.liveKeys) None
        else Some(s"table holds ${rows.sum} rows after batch, expected ${b.liveKeys}")
      }
      spaceAmps += mine.map(e => new File(rootDir, e.relPath).length()).sum.toDouble / b.liveUserBytes
    }

    b.lookups.foreach { l =>
      var files = 0
      val got = ctx.ops.run("lookup", ctx.timed)(ctx.span("ManifestTable.readPrunedEq") {
        val df = ManifestTable.readPrunedEq(spark, root, Table, "k", l.key)
        val rows = df.select("k", "seq", "digest").collect()
        if (traced) files = df.inputFiles.length
        rows
      }) { rows =>
        val want = l.expected.map(r => (r.k, r.seq, r.digest)).toSeq
        val have = rows.map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
        if (have == want) None else Some(s"lookup of key ${l.key} returned $have, expected $want")
      }
      if (traced) {
        lookupFiles += files
        lookupHits += got.map(_.length).getOrElse(0)
      }
    }

    b.scans.foreach { s =>
      var files = 0
      val got = ctx.ops.run("scan", ctx.timed)(ctx.span("ManifestTable.readPruned") {
        val df = ManifestTable.readPruned(spark, root, Table, "d", s.lo, s.hi)
        // the file each row came from is read only for the traced counts
        val rows = (if (traced) df.select(col("k"), input_file_name()) else df.select("k")).collect()
        if (traced) files = df.inputFiles.length
        rows
      }) { rows =>
        val keys = rows.map(_.getLong(0))
        if (keys.length == s.expectedKeys.size && keys.toSet == s.expectedKeys) None
        else Some(s"scan of days ${s.lo}..${s.hi} returned ${keys.length} keys, expected ${s.expectedKeys.size}")
      }
      if (traced) {
        scanFiles += files
        scanUseful += got.map(_.map(_.getString(1)).distinct.length).getOrElse(0)
      }
    }
    b.rows.toLong
  }

  /** The live table's full key set and content digest against the
    * generator's state after the last applied batch. */
  override def finalCheck(spark: SparkSession, ops: Ops): Unit = if (applied > 0) {
    val b = truth.batches(applied - 1)
    ops.run("check", timed = false)(ManifestTable.read(spark, root, Table)
      .select("k", "digest").collect().map(r => (r.getLong(0), r.getString(1)))) { rows =>
      val keys = rows.map(_._1)
      if (keys.distinct.length != keys.length) Some("live table holds duplicate keys")
      else if (keys.length != b.liveKeys) Some(s"live table holds ${keys.length} keys, expected ${b.liveKeys}")
      else if (Gen.liveDigest(rows.toSeq) != b.liveDigest) Some("live table digest differs from ground truth")
      else None
    }
  }

  def release(): Unit = truth = null

  def metrics(ops: Ops, spark: SparkSession): Map[String, Metric] = {
    val (lp, lt) = Stats.tail(ops.ms("lookup"))
    val (cp, ct) = Stats.tail(ops.ms("commit"))
    Map(
      "commit.p50_ms" -> Metric(Stats.median(ops.ms("commit")), "ms"),
      "commit.tail_ms" -> Metric(ct, "ms"),
      "commit.tail_pct" -> Metric(cp, "pct"),
      "lookup.p50_ms" -> Metric(Stats.median(ops.ms("lookup")), "ms"),
      "lookup.tail_ms" -> Metric(lt, "ms"),
      "lookup.tail_pct" -> Metric(lp, "pct"),
      "lookup.samples" -> Metric(ops.ms("lookup").size, "count"),
      "scan.p50_ms" -> Metric(Stats.median(ops.ms("scan")), "ms"),
      "space_amp" -> Metric(Stats.median(spaceAmps.toSeq), "ratio"),
      "storage.compactions" -> Metric(compactions, "count"),
      "storage.log_compactions" -> Metric(logCompactions, "count"))
  }

  def layers(tr: Tracer, traced: Seq[Span], ops: Ops): Map[String, Double] = {
    val commitFs = tr.spansNamed("CdcApply.applyStream").map(_.fs)
    val lookupFs = tr.spansNamed("ManifestTable.readPrunedEq").map(_.fs)
    val commits = math.max(1, commitFs.size)
    val fsSum = commitFs.foldLeft(FsCounts.Zero)(_ + _)
    val lookups = math.max(1, lookupFs.size)
    val progress = tr.progress.toArray(Array.empty[ProgressRec]).toSeq
    Map(
      "storage.objects_per_commit" -> Stats.median(commitObjects.toSeq),
      "storage.bytes_written_per_user_byte" -> fsSum.bytesWritten.toDouble / math.max(1L, commitUserBytes),
      "storage.fs_write_ops_per_commit" -> fsSum.writeOps.toDouble / commits,
      "storage.fs_read_ops_per_commit" -> fsSum.readOps.toDouble / commits,
      "storage.fs_list_ops_per_commit" -> fsSum.listOps.toDouble / commits,
      "storage.compactions" -> tracedCompactions.toDouble / math.max(1, traced.size),
      "storage.compact_s" -> compactMs / 1e3 / math.max(1, traced.size),
      "storage.bytes_rewritten" -> compactBytes.toDouble / math.max(1, traced.size),
      "storage.resolve_ms" -> Stats.median(ops.ms("resolve")),
      "storage.files_opened_per_lookup" -> lookupFiles.sum / math.max(1, lookupFiles.size),
      "storage.lookup_useful_file_share" -> lookupHits.toDouble / math.max(1.0, lookupFiles.sum),
      "storage.files_opened_per_scan" -> Stats.median(scanFiles.toSeq),
      "storage.scan_useful_file_share" -> scanUseful.toDouble / math.max(1.0, scanFiles.sum),
      "storage.fs_read_ops_per_lookup" -> lookupFs.map(_.readOps).sum.toDouble / lookups,
      "storage.live_files" -> liveFiles.toDouble,
      "streaming.add_batch_ms" -> Stats.median(progress.map(_.addBatchMs.toDouble)),
      "streaming.trigger_overhead_ms" -> Stats.median(progress.map(p => (p.triggerMs - p.addBatchMs).toDouble)),
      "streaming.rows_per_batch" -> Stats.median(progress.map(_.rows.toDouble)))
  }
}

object TableCdc {
  /** The seed table is written as this many date-clustered files. */
  val SeedFiles = 16
  /** Compaction and log compaction fire on every batch, so every pass
    * does the same maintenance work. */
  val CompactAtFileCount = 2
  val CompactLogEvery = 1
  val KeepVersions = 3
}
