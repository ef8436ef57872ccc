package graft.etl

import java.nio.charset.StandardCharsets
import java.util.UUID

import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.datasources.HadoopFsRelation
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.graftbridge.ParquetSchemaBridge
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel

/** Manifest-pointer committed tables: the engine's one table writer and
  * its form of the reference's multi-table transaction
  * (`main.py:173-195`, T1).
  *
  * Rename-based directory swaps are atomic on HDFS but NOT on S3-like
  * object stores, where rename of a directory is per-object copy+delete
  * and a concurrent reader can observe a mid-swap tree. This module
  * removes renames of DATA from the commit path entirely:
  *
  *  - data files are immutable and uniquely named (`<table>/d-<uuid>/
  *    part-*.parquet`) — they are never renamed, overwritten, or deleted
  *    by a commit, only by an explicit [[vacuum]];
  *  - a version is one small COMMIT FILE (`_commits/c-<seq>.txt`): a
  *    full snapshot for the first version, a DELTA (removed keys +
  *    upserted entries, batch-proportional) afterwards, with periodic
  *    `k-<seq>.txt` checkpoint snapshots amortizing resolution; entries
  *    carry per-file canonical min/max stats, row counts, byte sizes
  *    and content-addressed Bloom-pack pointers for file skipping;
  *  - readers resolve the highest committed sequence number and the
  *    entry list it implies — so a commit "happens" at the instant
  *    one small object appears, which is atomic even where directory
  *    rename is not (an object-store PUT, or the copy half of its
  *    rename, materializes the whole object or nothing).
  *
  * Consequences, each spec'd in EtlInvariantsSpec / ManifestTableSpec:
  *  - CRASH-SAFE PUBLISH: a failure anywhere before the commit file
  *    lands leaves only orphan data files; the previous version keeps
  *    serving reads untouched (the reference's rollback semantics with
  *    zero restore work).
  *  - SNAPSHOT ISOLATION: a reader that resolved version N keeps a
  *    consistent file list even while version N+1 commits (old files
  *    are immortal until vacuum).
  *  - TIME TRAVEL: any retained version can be read back ([[readAt]]).
  *  - MULTI-TABLE ATOMICITY: one commit file carries every table, so a
  *    multi-table publish is all-or-nothing BY CONSTRUCTION — there is
  *    no per-table swap loop to crash in the middle of.
  *
  * This is the mechanism Iceberg/Delta/Hudi build on (a metadata pointer
  * over immutable files), self-contained here over the public Hadoop
  * FileSystem + parquet APIs — per-file min/max statistics promoted to
  * the source of truth for table contents.
  *
  * Scale notes: commit files are CHANGED-file-sized (deltas), resolved
  * on the driver at plan time from the nearest checkpoint/cached state
  * — the same cost class as Spark's own file-index listing, without the
  * eventual-consistency hazards of LIST-after-PUT (the commit chain
  * names its files; nothing is discovered by listing data dirs). Concurrent committers race on
  * the next sequence number optimistically: the commit file name is
  * EXACTLY `c-<seq>.txt`, so the loser's rename fails on
  * destination-exists (`FileContext.rename` with `Options.Rename.NONE`
  * — exclusion guaranteed by the Hadoop FS spec, not by any one
  * implementation) and its caller re-resolves [[current]] and retries.
  * On true object stores, where rename is copy+delete without an
  * exclusivity guarantee, concurrent committers additionally need a
  * CAS/lock service (the same qualification Delta Lake documents for
  * S3) or a single-writer-per-root deployment; single-writer needs
  * nothing.
  *
  * On-disk format, one form written and read:
  *  - commit names are `_commits/c-<seq>.txt` (20-digit sequence),
  *    checkpoints `_commits/k-<seq>.txt`;
  *  - every entry line is the `#2` grammar ([[parseV2]]); a data entry
  *    always carries its byte size and row count;
  *  - every bloom payload is a slice of its write unit's pack object,
  *    `@<rel>.pack.bloom#<offset>:<len>` ([[writeBloomPack]]).
  *
  * Reads: every non-merging read plans from a [[ManifestFileIndex]] over
  * the commit's entries, and file skipping has ONE rule, applied by its
  * `listFiles` to Catalyst's resolved filter conjuncts:
  *  - a range or equality bound on the exact value the writer recorded
  *    min/max for ([[canonLongExpr]], or the bare column where that map
  *    is the identity or monotone and total) skips by min/max;
  *  - `=` / `IN` on a bloom-inserted form (`cast(c AS string)`, or the
  *    long form) skips by the bloom pack;
  *  - any other conjunct skips nothing.
  * So a plain `read(...).filter(...)` skips files, and merge discovery
  * tests its collected keys per file with the same functions.
  */
object ManifestTable {

  private val CommitDir = "_commits"
  // the fixed per-sequence name is the commit-exclusion mechanism
  private val CommitName = """c-(\d{20})\.txt""".r
  private def fixedName(seq: Long): String = f"c-$seq%020d.txt"
  /** Latest-version pointer (`_commits/_latest.hint`), updated
    * best-effort after every commit — Delta's `_last_checkpoint` idea.
    * Resolution cost without it is a full `_commits` LIST (grows with
    * retained versions — a long-lived CDC sink accumulates thousands);
    * with it, resolve is one small GET plus exists-probes forward from
    * the hinted sequence (0 probes when fresh, k when k commits raced
    * past the hint write). The hint is NEVER load-bearing: missing,
    * stale, torn, or pointing at a compacted-away version all fall back
    * to the listing path, and sequences are dense by construction (next
    * = current + 1 under commit exclusion) so the first forward miss is
    * the true tip. */
  private val HintName = "_latest.hint"
  /** Commit-file GET counter (hint + commit parses), for specs proving
    * resolve cost stays O(1) as versions accumulate. */
  private[graft] val commitFileReads = new java.util.concurrent.atomic.AtomicLong
  /** Cap on files listed in one commit: beyond this the driver-side
    * manifest itself needs a tree structure (Iceberg's manifest lists);
    * fail loudly instead of degrading silently. */
  val MaxFilesPerCommit = 1000000

  /** Thrown when the optimistic commit CAS loses its version number to a
    * concurrent committer — a TYPED conflict so retry-capable callers
    * ([[transactionalMerge]]'s rebase loop) can distinguish "someone
    * else committed first, re-resolve and rebase" from real I/O
    * failures, which must stay fatal. Extends IOException so existing
    * fail-loud callers are unchanged. */
  final class CommitConflictException(msg: String)
    extends java.io.IOException(msg)

  /** The rebase-on-conflict policy of the whole merge family
    * ([[transactionalMerge]], [[transactionalAppendAll]], [[mergeInto]],
    * [[deleteByKeys]]) in ONE body: a lost commit CAS means another
    * writer claimed our version number — nothing about OUR batch is
    * wrong, so re-run `body` (each attempt re-resolves the new head,
    * re-checks its watermark, re-derives its affected files, and
    * re-commits at head+1). This is the SLOW path: [[commitOrRebase]]
    * first re-commits the attempt's already-written files directly
    * whenever the interleaved commit provably did not touch the
    * attempt's read set (different-table writers under one root), so
    * `body` only re-runs when the conflict actually invalidated it.
    * Bounded: past `maxRetries` the conflict propagates — fail-loud
    * beats livelock under real contention; at that point the deployment
    * needs a commit queue. A losing attempt's data files are
    * unreferenced orphans; [[vacuum]] reclaims them. */
  private def retryOnConflict[A](maxRetries: Int)(body: => A): A = {
    require(maxRetries >= 0, "maxRetries >= 0")
    var attempt = 0
    while (true) {
      try return body
      catch {
        case e: CommitConflictException =>
          if (attempt >= maxRetries) throw e
          attempt += 1
      }
    }
    throw new IllegalStateException("unreachable")
  }

  private sealed trait CommitOutcome
  private final case class Committed(version: Long) extends CommitOutcome
  private case object AlreadyApplied extends CommitOutcome

  /** FILE-REUSING conflict rebase — the fast path [[retryOnConflict]]
    * sits behind: a lost commit CAS means another writer claimed our
    * version number, but when that interleaved commit provably did not
    * disturb anything this attempt's plan READ (`reusableUnder` — e.g.
    * the target table's entry list is identical under the new head),
    * the attempt's conclusions still hold verbatim, so its
    * already-written data files are re-committed directly at the new
    * head+1: zero recompute, zero re-write, no orphaned files. Writers
    * on DIFFERENT tables of one root (the CorpusIngest corpus+index
    * shape, several CDC streams sharing a warehouse root) thus each pay
    * exactly one data write however often they race; only a conflict
    * that touched OUR read set re-runs the attempt (the conflict
    * propagates to [[retryOnConflict]]). `alreadyAppliedUnder` wins
    * over everything: a racing replay that landed OUR watermark makes
    * the whole operation a no-op, reported as such. `carriedOf`
    * re-derives the carried entries FROM WHICHEVER HEAD the commit
    * lands on, so the interloper's files are never dropped. Bounded:
    * past `maxRebase` lost races in a row the conflict propagates —
    * same fail-loud-beats-livelock policy as the outer retry. */
  private def commitOrRebase(spark: SparkSession, fs: FileSystem,
      rootP: HPath, root: String, planned: Option[Commit],
      carriedOf: Seq[FileEntry] => Seq[FileEntry],
      added: Seq[FileEntry],
      reusableUnder: Commit => Boolean,
      alreadyAppliedUnder: Commit => Boolean = _ => false,
      maxRebase: Int = 3,
      freshEntries: Seq[FileEntry] = Nil): CommitOutcome = {
    // the attempt's NEWLY WRITTEN dirs (never the carried `keep`
    // entries riding in `added`): when this attempt is abandoned —
    // already-applied no-op, or a non-reusable conflict that forces a
    // re-run — those files are orphans from this very instant; eager
    // best-effort cleanup beats waiting a vacuum age horizon (a hot
    // retry loop would otherwise stack one orphan dir per lost race)
    def dropFresh(): Unit =
      freshEntries.map(e => new HPath(rootP, e.relPath).getParent)
        .distinct.foreach { d =>
          try fs.delete(d, true) catch { case _: Exception => () }
        }
    var entries = planned.map(_.entries).getOrElse(Nil)
    var version = planned.fold(1L)(_.version + 1L)
    var rebases = 0
    while (true) {
      try return Committed(
        writeCommit(fs, rootP, version, carriedOf(entries) ++ added,
          parent = Some(entries)))
      catch {
        case e: CommitConflictException =>
          if (rebases >= maxRebase) { dropFresh(); throw e }
          val nc = current(spark, root).getOrElse { dropFresh(); throw e }
          if (alreadyAppliedUnder(nc)) { dropFresh(); return AlreadyApplied }
          if (!reusableUnder(nc)) { dropFresh(); throw e }
          entries = nc.entries
          version = nc.version + 1L
          rebases += 1
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** The [[commitOrRebase]] reuse test every merge-family writer shares:
    * the interleaved commit left `table`'s entry list EXACTLY as this
    * attempt planned it (same files, same stats/blooms/sizes — FileEntry
    * equality), so the affected/untouched split, the rewrite, and the
    * row counts all still hold. */
  private def tableUnchanged(planned: Option[Commit], table: String)(
      nc: Commit): Boolean =
    nc.entries.filter(_.table == table) ==
      planned.map(_.entries.filter(_.table == table)).getOrElse(Nil)

  /** One immutable data file of one table version, or one transaction
    * watermark (table [[TxnTable]], no file behind it). Fields:
    *  - `min`/`max` + `statsName`: the primary canonical-long range and
    *    the COLUMN it was computed over. A data file records it only
    *    when the column holds a non-null value; a watermark stores its
    *    batch id here, unnamed.
    *  - `stats2`: further named (col, min, max) ranges, so pruning works
    *    on keys other than the clustered one.
    *  - `bytes`: the file's length, from the listStatus the writer
    *    already pays — [[compact]] / [[compactIfFragmented]] size the
    *    table from the manifest with no FS call.
    *  - `rows`: the file's row count, from the parquet footer the writer
    *    just produced — sizes Bloom filters and turns every "count the
    *    written files" probe into manifest arithmetic.
    *  - `bloom` / `blooms2`: (column, payload) pairs for EQUALITY-probe
    *    skipping on keys uncorrelated with the layout. The payload is a
    *    pointer `@<rel>.pack.bloom#<offset>:<len>` to a slice of the
    *    write unit's content-addressed pack under `<table>/_blooms/`
    *    ([[writeBloomPack]]), so a commit line stays ~100 B per file
    *    however large its filters are. Values enter a filter as the
    *    UTF-8 bytes of the column's canonical string cast; no false
    *    negatives, so skipping never loses a row.
    * Every data entry carries `bytes` and `rows` ([[parseV2]] rejects a
    * line without them). */
  final case class FileEntry(table: String, relPath: String,
                             min: Option[Long], max: Option[Long],
                             bloom: Option[(String, String)] = None,
                             statsName: Option[String] = None,
                             bytes: Option[Long] = None,
                             stats2: Seq[(String, Long, Long)] = Nil,
                             blooms2: Seq[(String, String)] = Nil,
                             rows: Option[Long] = None) {
    /** min/max recorded for column `c`, if any: the primary pair when
      * its recorded name is `c`, else a named `stats2` group. No match
      * means the file is never skipped on `c`. */
    def statsFor(c: String): Option[(Long, Long)] =
      (if (statsName.contains(c)) min.zip(max) else None)
        .orElse(stats2.collectFirst { case (n, mn, mx) if n == c => (mn, mx) })
    /** Serialized bloom filter recorded for column `c`, if any. */
    def bloomFor(c: String): Option[String] =
      bloom.collect { case (bc, b64) if bc == c => b64 }
        .orElse(blooms2.collectFirst { case (bc, b64) if bc == c => b64 })
    /** This entry with a bloom on `c` attached: replaces the primary
      * when it is absent or already on `c`; otherwise rides `blooms2`
      * (retrofitting a second key must not strip the first's coverage). */
    def withBloom(c: String, b64: String): FileEntry =
      if (bloom.forall(_._1 == c)) copy(bloom = Some((c, b64)))
      else copy(blooms2 = blooms2.filterNot(_._1 == c) :+ ((c, b64)))
  }

  final case class Commit(version: Long, entries: Seq[FileEntry])

  /** Filesystem of `p` (from the path's scheme, e.g. file:/HDFS) plus the
    * fully-qualified path. */
  private[graft] def fsFor(spark: SparkSession, p: String): (FileSystem, HPath) = {
    val hp = new HPath(p)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    (fs, fs.makeQualified(hp))
  }

  private def uuid(): String = UUID.randomUUID().toString.replace("-", "")

  // ---------------------------------------------------------------- resolve

  /** Parsed body of one commit file: a self-contained SNAPSHOT (a
    * parentless commit; every `CheckpointInterval`-th commit; `k-`
    * sidecar checkpoints) or a DELTA against the previous version — key
    * removals plus entry upserts (an upsert replaces an existing
    * (table, relPath) in place, new keys append). Deltas are what keep
    * the per-commit write O(changed files): a CDC sink at its
    * 10^4–10^5-file steady state used to rewrite the FULL entry list
    * every micro-batch, making the manifest — not the data — the
    * dominant per-batch write. */
  private[graft] sealed trait CommitBody
  private[graft] final case class Snapshot(entries: Seq[FileEntry])
    extends CommitBody
  private[graft] final case class DeltaBody(removes: Seq[(String, String)],
                                            upserts: Seq[FileEntry])
    extends CommitBody

  /** Apply one delta: removals first, then in-place upserts, then
    * appends of new keys — deterministic entry order, so a resolved
    * state equals the committing writer's list up to the position of
    * in-place-updated entries (content-identical either way). */
  private def applyDelta(state: Seq[FileEntry], d: DeltaBody): Seq[FileEntry] = {
    val rm = d.removes.toSet
    val up = d.upserts.map(e => (e.table, e.relPath) -> e).toMap
    val kept = state.filterNot(e => rm.contains((e.table, e.relPath)))
    val existing = kept.map(e => (e.table, e.relPath)).toSet
    kept.map(e => up.getOrElse((e.table, e.relPath), e)) ++
      d.upserts.filterNot(e => existing.contains((e.table, e.relPath)))
  }

  /** Write a full snapshot every N commits (amortizing resolve to O(1)
    * checkpoints + O(delta) line parses) — a var ONLY so specs can
    * drive the cadence cheaply; production uses the default. */
  private[graft] var CheckpointInterval = 16

  /** `k-<seq>.txt` checkpoint sidecars: a full snapshot of version seq,
    * written best-effort after checkpoint-cadence commits and
    * LOAD-BEARINGLY by [[compactLog]]/[[vacuum]] before they drop the
    * delta chain under retained versions. Never a CAS target — the
    * c-file is the commit; a missing k-file only lengthens the
    * backward walk. */
  private def checkpointName(seq: Long): String = f"k-$seq%020d.txt"

  /** Driver-side cache of the most recently resolved (version, entries)
    * per root — a (root, version) state is immutable, so a hit is valid
    * forever, and resolving a newer tip parses only the commits SINCE
    * the cached version (the warm path every per-batch writer takes). */
  private val stateCache = new java.util.concurrent.ConcurrentHashMap[
    String, (Long, Seq[FileEntry])]()
  private val MaxStateCacheRoots = 64
  /** Test hook: simulate a cold driver (specs proving resolve cost
    * bounds must not ride the warm cache). */
  private[graft] def dropStateCacheForTest(): Unit = stateCache.clear()

  /** Full entry list of `version` under `cd`: walk backward collecting
    * deltas until a base (cached state, `k-` checkpoint, or snapshot
    * commit), then apply forward. Cost: O(1) base reads + O(deltas
    * since base); the warm path reads only commits newer than the
    * cache. Fail-loud on a broken chain (a delta whose base was
    * dropped without a checkpoint — [[compactLog]]/[[vacuum]] prevent
    * this by construction). */
  private def resolveEntries(fs: FileSystem, cd: HPath,
                             version: Long): Seq[FileEntry] = {
    val rootKey = fs.makeQualified(cd).toString
    val cached = Option(stateCache.get(rootKey))
    if (cached.exists(_._1 == version)) return cached.get._2
    var s = version
    var base: Seq[FileEntry] = null
    val deltas = scala.collection.mutable.ListBuffer.empty[DeltaBody]
    while (base == null) {
      if (cached.exists(_._1 == s)) base = cached.get._2
      else {
        val kp = new HPath(cd, checkpointName(s))
        val cp = new HPath(cd, fixedName(s))
        val body =
          if (fs.exists(kp)) parseBody(fs, kp)
          else if (fs.exists(cp)) parseBody(fs, cp)
          else throw new java.io.IOException(
            s"broken commit chain under $cd: version $s missing while " +
              s"resolving $version (compacted without a checkpoint?)")
        body match {
          case Snapshot(es) => base = es
          case d: DeltaBody => deltas.prepend(d); s -= 1
        }
      }
    }
    val entries = deltas.foldLeft(base)(applyDelta)
    if (cached.forall(_._1 <= version)) {
      if (stateCache.size() >= MaxStateCacheRoots &&
          !stateCache.containsKey(rootKey))
        stateCache.clear()
      stateCache.put(rootKey, (version, entries))
    }
    entries
  }

  /** Latest committed state, or None for an uninitialized root. Partial
    * uploads (`.tmp-*`) and foreign files in `_commits` are ignored by
    * the name pattern. Fixed commit names make equal sequence numbers
    * impossible (the loser's rename fails on destination-exists).
    *
    * Resolve cost: O(1) in retained history — the `_latest.hint` fast
    * path reads the pointer and exists-probes forward to the dense tip,
    * never listing `_commits`; only a missing, torn or compacted-away
    * hint pays the full LIST. Entry resolution then parses only the
    * commits newer than the cached state ([[resolveEntries]]). */
  def current(spark: SparkSession, root: String): Option[Commit] = {
    val (fs, rootP) = fsFor(spark, root)
    val cd = new HPath(rootP, CommitDir)
    if (!fs.exists(cd)) return None
    latestName(fs, cd).map { n =>
      val CommitName(seq) = n
      Commit(seq.toLong, resolveEntries(fs, cd, seq.toLong))
    }
  }

  /** Name of the tip commit: hint + forward probes when possible,
    * full listing otherwise. */
  private def latestName(fs: FileSystem, cd: HPath): Option[String] = {
    val hinted = readHint(fs, cd).filter(h => fs.exists(new HPath(cd, fixedName(h))))
    hinted match {
      case Some(h) =>
        // sequences are dense (next = current + 1), so walk to the first
        // miss; fresh hints walk zero steps
        var s = h
        while (fs.exists(new HPath(cd, fixedName(s + 1)))) s += 1
        Some(fixedName(s))
      case None =>
        fs.listStatus(cd).map(_.getPath.getName)
          .filter(n => CommitName.pattern.matcher(n).matches()).sorted.lastOption
    }
  }

  private def readHint(fs: FileSystem, cd: HPath): Option[Long] =
    try {
      val p = new HPath(cd, HintName)
      if (!fs.exists(p)) None
      else {
        commitFileReads.incrementAndGet()
        val in = fs.open(p)
        val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
                   finally in.close()
        Some(text.toLong)
      }
    } catch { case _: Exception => None } // torn/corrupt hint -> listing path

  /** Best-effort hint refresh after a successful commit. Losing a race
    * here (or crashing before it) only costs the next reader some
    * forward probes or one listing — never correctness. */
  private def writeHint(fs: FileSystem, cd: HPath, version: Long): Unit =
    try {
      val tmp = new HPath(cd, s".tmp-hint-${uuid()}")
      val out = fs.create(tmp, false)
      try out.write(version.toString.getBytes(StandardCharsets.UTF_8))
      finally out.close()
      val dest = new HPath(cd, HintName)
      fs.delete(dest, false)
      if (!fs.rename(tmp, dest)) fs.delete(tmp, false)
    } catch { case _: Exception => () }

  /** The state as of a specific retained version (time travel). */
  def readAt(spark: SparkSession, root: String, table: String,
             version: Long): DataFrame = {
    val (fs, rootP) = fsFor(spark, root)
    val cd = new HPath(rootP, CommitDir)
    if (!fs.exists(new HPath(cd, fixedName(version))))
      throw new IllegalArgumentException(
        s"readAt: version $version not retained under $root (vacuumed?)")
    toDf(spark, rootP, version, resolveEntries(fs, cd, version), table)
  }

  /** Row-level diff between two retained snapshots: every row only in
    * `toVersion` tagged `'added'`, every row only in `fromVersion`
    * tagged `'removed'` (multiset semantics via exceptAll, so
    * duplicate-row cardinality changes surface too) — the
    * time-travel-powered change audit ("what did the last N commits
    * actually do to this table") that completes the snapshot surface
    * next to [[readAt]] / [[compact]] / [[vacuum]].
    *
    * Scale: two manifest resolves (O(1) checkpoints + O(delta) commit
    * parses each) + one hash-partitioned set difference per direction —
    * the standard full-row diff shuffle. Files shared by BOTH commits
    * are read twice but cancel; a dominant unchanged majority costs
    * scan + shuffle of the table, which is the honest lower bound for
    * row-level certainty (file-level identity can prune: entries with
    * equal (relPath, bytes) in both commits hold identical rows, and
    * [[entriesAt]] exposes exactly that for callers that want the
    * cheap screen first). */
  def snapshotDiff(spark: SparkSession, root: String, table: String,
                   fromVersion: Long, toVersion: Long): DataFrame = {
    val a = readAt(spark, root, table, fromVersion)
    val b = readAt(spark, root, table, toVersion)
    b.exceptAll(a).withColumn("change", lit("added"))
      .unionByName(a.exceptAll(b).withColumn("change", lit("removed")))
  }

  /** Delta body markers: `#` is outside the legal table-name alphabet,
    * so neither can collide with a snapshot entry line. Detection is by
    * PRESENCE of the `#delta` line, not position — the streaming reader
    * receives commit lines as an unordered batch. */
  private[graft] val DeltaMarker = "#delta"
  private[graft] val RemoveMarker = "#rm"

  private def parseBody(fs: FileSystem, p: HPath): CommitBody = {
    commitFileReads.incrementAndGet()
    val in = fs.open(p)
    val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
               finally in.close()
    parseBodyLines(text.split("\n").iterator.filter(_.nonEmpty), p.toString)
  }

  /** Body parser shared with the streaming reader: lines with the
    * `#delta` marker anywhere form a [[DeltaBody]] (removal lines +
    * upsert entry lines); anything else is a [[Snapshot]]. */
  private[graft] def parseBodyLines(lines: Iterator[String],
                                    src: String): CommitBody = {
    val all = lines.toVector
    if (!all.contains(DeltaMarker)) Snapshot(parseEntryLines(all.iterator, src))
    else {
      val (rm, rest) = all.filterNot(_ == DeltaMarker)
        .partition(_.startsWith(RemoveMarker + "\t"))
      val removes = rm.map { line =>
        line.split("\t", -1) match {
          case Array(RemoveMarker, t, rel) => (t, rel)
          case _ => throw new java.io.IOException(
            s"corrupt delta removal line in $src: '${line.take(80)}'")
        }
      }
      DeltaBody(removes, parseEntryLines(rest.iterator, src))
    }
  }

  /** Entry line marker: `#` is outside the legal table-name alphabet
    * ([[writeData]]'s `[A-Za-z0-9._-]+` require), so no table field can
    * pose as it. */
  private val V2Marker = "#2"
  /** Prefix of every bloom payload, marking it a pack-slice pointer. */
  private[graft] val PointerMark = "@"

  /** One commit line for one entry (see [[parseV2]] for the grammar). */
  private def entryLine(e: FileEntry): String = {
    val groups =
      e.min.zip(e.max).map { case (mn, mx) =>
        s"S:${e.statsName.fold("")(b64col)}:$mn:$mx" }.toSeq ++
      e.stats2.map { case (c, mn, mx) => s"S:${b64col(c)}:$mn:$mx" } ++
      (e.bloom.toSeq ++ e.blooms2).map { case (c, p) =>
        s"P:${b64col(c)}:${b64col(p.stripPrefix(PointerMark))}" } ++
      e.rows.map(n => s"R:$n").toSeq
    (Seq(V2Marker, e.table, e.relPath, e.bytes.fold("")(_.toString)) ++
      groups).mkString("\t")
  }
  private def b64col(c: String): String =
    java.util.Base64.getEncoder.encodeToString(c.getBytes(StandardCharsets.UTF_8))
  private def unb64col(s: String): String =
    new String(java.util.Base64.getDecoder.decode(s), StandardCharsets.UTF_8)

  /** Commit-line parser shared with the streaming reader (which gets its
    * lines from a text file-source batch, not an FS open): one
    * [[parseV2]] line per entry. */
  private[graft] def parseEntryLines(lines: Iterator[String],
                                     src: String): Seq[FileEntry] =
    lines.map(line => parseV2(line.split("\t", -1), line, src)).toVector

  /** `#2 <TAB> table <TAB> relPath <TAB> bytes? <TAB> group...` where
    * each group is one of
    *  - `S:<b64(col)>:<min>:<max>`: a canonical-long range; the column
    *    is empty only for a watermark's batch id;
    *  - `P:<b64(col)>:<b64(rel#offset:len)>`: a bloom filter's pack
    *    slice, parsed into the `@<rel>#<offset>:<len>` payload;
    *  - `R:<rows>`: the row count.
    * The FIRST range and the first bloom fill the primary slots; the
    * rest ride stats2/blooms2. Column names travel base64'd so none can
    * collide with the `:` delimiter. Every entry but a [[TxnTable]]
    * watermark carries `bytes` and an `R:` group. Any other line fails
    * with an IOException naming the file and the line. */
  private def parseV2(f: Array[String], line: String, src: String): FileEntry = {
    def corrupt(): Nothing = throw new java.io.IOException(
      s"corrupt commit line in $src: '${line.take(80)}'")
    def num(s: String): Long = s.toLongOption.getOrElse(corrupt())
    def name(s: String): String =
      try unb64col(s) catch { case _: IllegalArgumentException => corrupt() }
    if (f.length < 4 || f(0) != V2Marker) corrupt()
    var e = FileEntry(f(1), f(2), None, None,
      bytes = if (f(3).isEmpty) None else Some(num(f(3))))
    f.drop(4).filter(_.nonEmpty).foreach { g =>
      g.split(":", -1) match {
        case Array("S", c, mn, mx) =>
          val n = if (c.isEmpty) None else Some(name(c))
          if (e.min.isEmpty && e.stats2.isEmpty)
            e = e.copy(min = Some(num(mn)), max = Some(num(mx)),
              statsName = n)
          else
            e = e.copy(stats2 = e.stats2 :+
              ((n.getOrElse(corrupt()), num(mn), num(mx))))
        case Array("P", c, pp) if c.nonEmpty && pp.nonEmpty =>
          val b = (name(c), PointerMark + name(pp))
          if (e.bloom.isEmpty) e = e.copy(bloom = Some(b))
          else e = e.copy(blooms2 = e.blooms2 :+ b)
        case Array("R", n) => e = e.copy(rows = Some(num(n)))
        case _ => corrupt()
      }
    }
    if (e.table != TxnTable && (e.bytes.isEmpty || e.rows.isEmpty)) corrupt()
    e
  }

  /** Sequence number of a commit file name, if it is one. */
  private[graft] def versionOfName(name: String): Option[Long] = name match {
    case CommitName(seq) => Some(seq.toLong)
    case _ => None
  }

  /** Entries of a specific retained version, None if not retained. */
  private[graft] def entriesAt(spark: SparkSession, root: String,
                               version: Long): Option[Seq[FileEntry]] = {
    val (fs, rootP) = fsFor(spark, root)
    val cd = new HPath(rootP, CommitDir)
    if (!fs.exists(new HPath(cd, fixedName(version)))) None
    else Some(resolveEntries(fs, cd, version))
  }

  /** Oldest retained version, None for an uninitialized root. */
  private[graft] def minRetainedVersion(spark: SparkSession,
                                        root: String): Option[Long] = {
    val (fs, rootP) = fsFor(spark, root)
    val cd = new HPath(rootP, CommitDir)
    if (!fs.exists(cd)) return None
    fs.listStatus(cd).map(_.getPath.getName)
      .flatMap(versionOfName).minOption
  }

  // ----------------------------------------------------------------- commit

  /** Write the next commit file: stage under a dot-name, then a
    * SINGLE-OBJECT move to the FIXED name `c-<seq>.txt` — the only
    * rename in the protocol, and of one small file. The fixed
    * destination is what makes optimistic concurrency sound: two
    * committers targeting the same sequence race their renames, and the
    * second rename FAILS on destination-exists — enforced by
    * `FileContext.rename(..., Options.Rename.NONE)`, which the Hadoop
    * FS spec guarantees to reject an existing destination on every
    * compliant filesystem (Delta's HDFSLogStore mechanism), with a
    * `FileSystem.rename` fallback for schemes lacking a FileContext
    * binding — so exactly one committer per sequence number succeeds;
    * the loser re-resolves and retries. The listStatus pre-check below
    * additionally refuses a stale writer whose sequence the log has
    * already passed. */
  /** Test-only interposition point: when set, runs ONCE at the next
    * [[writeCommit]] entry (self-clearing, so an interleaved commit the
    * hook itself performs cannot recurse) — how specs inject a
    * deterministic concurrent commit between a writer's plan and its
    * CAS, driving the [[commitOrRebase]] conflict paths without a
    * flaky thread race. Never set in production code. */
  private[graft] var testBeforeCommit: Option[() => Unit] = None

  private def writeCommit(fs: FileSystem, rootP: HPath, version: Long,
                          entries: Seq[FileEntry],
                          parent: Option[Seq[FileEntry]] = None): Long = {
    testBeforeCommit.foreach { h => testBeforeCommit = None; h() }
    require(entries.size <= MaxFilesPerCommit,
      s"commit would list ${entries.size} files (> $MaxFilesPerCommit): " +
        "compact the table or shard it before committing")
    entries.foreach { e =>
      require(!e.table.contains("\t") && !e.relPath.contains("\t") &&
        !e.table.contains("\n") && !e.relPath.contains("\n"),
        s"illegal table/path characters: ${e.table} ${e.relPath}")
      (e.bloom.toSeq ++ e.blooms2).foreach { case (bc, bb) =>
        require(bc.nonEmpty && bb.startsWith(PointerMark) &&
          !s"$bc$bb".exists(ch => ch == '\t' || ch == '\n'),
          s"illegal bloom fields for ${e.relPath}")
      }
      e.stats2.foreach { case (c, _, _) =>
        require(c.nonEmpty, s"unnamed secondary stats for ${e.relPath}")
      }
    }
    val cd = new HPath(rootP, CommitDir)
    fs.mkdirs(cd)
    // Commit body: a DELTA against `parent` whenever the writer knows
    // the parent state and the delta is actually smaller — the change
    // that makes per-commit bytes ∝ the batch's changed files instead
    // of O(table files). Checkpoint-cadence versions and parentless
    // commits write the full snapshot; a best-effort `k-` checkpoint
    // sidecar lands after checkpoint-cadence delta commits so resolve
    // never walks more than CheckpointInterval deltas.
    val snapshotBody = entries.map(entryLine).mkString("", "\n", "\n")
    val deltaLines: Option[String] = parent.flatMap { p =>
      val nKey = entries.map(e => (e.table, e.relPath) -> e).toMap
      val pKey = p.map(e => (e.table, e.relPath) -> e).toMap
      val removes = p.collect {
        case e if !nKey.contains((e.table, e.relPath)) =>
          s"$RemoveMarker\t${e.table}\t${e.relPath}"
      }
      val upserts = entries.filter(e =>
        !pKey.get((e.table, e.relPath)).contains(e))
      if (removes.length + upserts.length >= entries.length) None
      else Some((DeltaMarker +: removes) .mkString("", "\n", "\n") +
        upserts.map(entryLine).mkString("", "\n", "\n"))
    }
    val checkpointDue = version % CheckpointInterval.toLong == 0L
    val body = deltaLines.getOrElse(snapshotBody)
    val tmp = new HPath(cd, s".tmp-${uuid()}")
    val out = fs.create(tmp, false)
    try out.write(body.getBytes(StandardCharsets.UTF_8)) finally out.close()
    val dest = new HPath(cd, fixedName(version))
    def conflict(): Nothing = {
      fs.delete(tmp, false)
      throw new CommitConflictException(
        s"commit conflict: version $version already committed under $rootP — " +
          "re-resolve current() and retry")
    }
    // fast-fail if this or a newer sequence already exists. Beyond the
    // rename below, this refuses a stale writer whose sequence the log
    // passed and whose `c-<version>` compactLog has since removed: the
    // fixed-name rename alone would succeed there
    val clash = fs.listStatus(cd).map(_.getPath.getName).exists {
      case CommitName(seq) => seq.toLong >= version
      case _ => false
    }
    if (clash) conflict()
    // The decisive step: atomic claim of the fixed name.
    // FileContext.rename with Options.Rename.NONE is SPEC-guaranteed to
    // fail when the destination exists (the mechanism Delta's
    // HDFSLogStore uses) — exclusion by contract, not by a particular
    // FileSystem implementation's behavior. Schemes without a
    // FileContext binding fall back to FileSystem.rename, whose
    // destination-exists=false behavior holds on HDFS and on Hadoop
    // 3.4 local file: (pinned empirically by ManifestTableSpec) but is
    // version-dependent on older local filesystems.
    val claimed =
      try {
        val fc = org.apache.hadoop.fs.FileContext.getFileContext(
          dest.toUri, fs.getConf)
        try {
          fc.rename(tmp, dest, org.apache.hadoop.fs.Options.Rename.NONE)
          true
        } catch {
          case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
          case e: java.io.IOException
              if e.getMessage != null && e.getMessage.contains("already exists") =>
            false
        }
      } catch {
        case _: org.apache.hadoop.fs.UnsupportedFileSystemException =>
          fs.rename(tmp, dest)
      }
    if (!claimed) conflict()
    // the committer KNOWS the full state it just committed: seed the
    // resolve cache so the next resolve under this root parses nothing
    val rootKey = fs.makeQualified(cd).toString
    if (stateCache.size() >= MaxStateCacheRoots &&
        !stateCache.containsKey(rootKey))
      stateCache.clear()
    stateCache.put(rootKey, (version, entries))
    // best-effort checkpoint sidecar on the cadence (only needed when
    // the commit itself was a delta); a crash here only lengthens the
    // next cold resolve's backward walk — never correctness
    if (checkpointDue && deltaLines.isDefined)
      try writeCheckpoint(fs, cd, version, entries)
      catch { case _: Exception => () }
    writeHint(fs, cd, version)
    version
  }

  /** Write the `k-<seq>.txt` snapshot sidecar for `version` (idempotent:
    * the content is a pure function of the version, so an existing file
    * is already right). */
  private def writeCheckpoint(fs: FileSystem, cd: HPath, version: Long,
                              entries: Seq[FileEntry]): Unit = {
    val dest = new HPath(cd, checkpointName(version))
    if (fs.exists(dest)) return
    val tmp = new HPath(cd, s".tmp-k-${uuid()}")
    val out = fs.create(tmp, false)
    try out.write(entries.map(entryLine).mkString("", "\n", "\n")
      .getBytes(StandardCharsets.UTF_8))
    finally out.close()
    if (!fs.rename(tmp, dest)) fs.delete(tmp, false)
  }

  // ------------------------------------------------------------- data write

  /** Counter of [[writeData]] invocations — the observability hook for
    * the file-reusing conflict rebase (a rebase that re-commits already
    * written files must NOT re-run the attempt's data write). */
  private[graft] val dataWrites = new java.util.concurrent.atomic.AtomicLong

  /** Hard cap keeping one file's filter bounded. */
  private val MaxBloomItems = 20000000L
  private def bloomSize(items: Long): Long =
    math.max(64L, math.min(items, MaxBloomItems))

  /** Canonical long form a column's per-file stats are recorded in:
    * epoch-DAY for DATE (a date→long cast does not exist, so
    * date-clustered tables previously recorded NO usable range and a
    * date-bounded retention purge could not prune discovery),
    * epoch-SECOND for TIMESTAMP (exactly what `cast(ts AS long)`
    * computes), long cast otherwise. [[ManifestFileIndex]]'s skip rule
    * matches filters on exactly these expressions. */
  private def canonLongExpr(c: String,
      dt: Option[org.apache.spark.sql.types.DataType]): Column = dt match {
    case Some(org.apache.spark.sql.types.DateType) =>
      unix_date(col(c)).cast("long")
    case _ => col(c).cast("long")
  }

  /** The LONG-form string a bloom insertion/probe uses for `c` — the
    * canonical long rendered as a string (dates via epoch-day; a plain
    * try_cast on a DATE column is an analysis error). */
  private def bloomLongFormExpr(c: String,
      dt: Option[org.apache.spark.sql.types.DataType]): Column = dt match {
    case Some(org.apache.spark.sql.types.DateType) =>
      unix_date(col(c)).cast("string")
    case _ => expr(s"CAST(try_cast(`$c` AS LONG) AS STRING)")
  }

  /** Per-file metadata out of [[statsBloomPass]]: canonical-long
    * min/max per stats column (absent = no non-null values) and a
    * serialized Bloom filter per bloom column. */
  private final case class PerFileMeta(stats: Map[String, (Long, Long)],
                                       blooms: Map[String, Array[Byte]])

  /** Mutable per-file accumulator of the combined pass — min/max slots
    * per stats column plus one Bloom filter per bloom column, sized for
    * this file. Partial accumulators of one file merge by min/min,
    * max/max and bloom bit-OR (same creation parameters → compatible
    * bit arrays), so the result is partitioning-invariant. */
  private final class SBAcc(nS: Int, nB: Int, expectedItems: Long,
                            fpp: Double) extends Serializable {
    val mins = Array.fill(nS)(Long.MaxValue)
    val maxs = Array.fill(nS)(Long.MinValue)
    val seen = Array.fill(nS)(false)
    val blooms = Array.fill(nB)(
      org.apache.spark.util.sketch.BloomFilter.create(
        bloomSize(expectedItems), fpp))
  }

  /** The per-row values the file metadata is built from: the canonical
    * long of every stats column, then per bloom column its raw string
    * rendering and its canonical long-form rendering (see
    * [[statsBloomPass]] for why a key inserts under both). */
  private def metaExprs(schema: StructType, statsCols: Seq[String],
                        bloomCols: Seq[String]): Seq[Column] = {
    def dtOf(c: String) = schema.find(_.name == c).map(_.dataType)
    statsCols.zipWithIndex.map { case (c, i) =>
      canonLongExpr(c, dtOf(c)).as(s"__s$i") } ++
      bloomCols.zipWithIndex.flatMap { case (kc, j) => Seq(
        col(kc).cast("string").as(s"__k$j"),
        bloomLongFormExpr(kc, dtOf(kc)).as(s"__l$j")) }
  }

  /** Bloom-key bytes one write task buffers before it gives up and
    * leaves its file to the post-write pass: a filter is sized to its
    * file's row count, which is known only after the last row. A var
    * ONLY so specs can drive that fallback; production never writes it. */
  private[graft] var TapBufferBytes = 32L << 20

  /** The write-task (partition) id in a Spark output file name,
    * `part-<id>-<job uuid>-c<nnn>.<codec>.parquet`. */
  private val TaskFile = "^part-(\\d+)-".r

  /** One write task's file metadata, gathered while the file is
    * written: `meta` is None when the task's bloom keys overflowed
    * [[TapBufferBytes]]. */
  private final case class TapOut(rows: Long, meta: Option[PerFileMeta])

  /** The in-write twin of [[statsBloomPass]] for one write task: the
    * same min/max and the same filters (same keys, same sizing from the
    * row count, same fpp), built from the [[metaExprs]] values found
    * at ordinal `off` onwards of each row the task writes. */
  private final class MetaTap(p: Int, off: Int, statsCols: Seq[String],
      bloomCols: Seq[String],
      acc: org.apache.spark.util.CollectionAccumulator[(Int, TapOut)],
      fpp: Double)
      extends org.apache.spark.sql.graftbridge.RowTapBridge.Observer {
    private val nS = statsCols.length
    private val nB = bloomCols.length
    private val mins = Array.fill(nS)(Long.MaxValue)
    private val maxs = Array.fill(nS)(Long.MinValue)
    private val keys = Array.fill(nB)(
      scala.collection.mutable.ArrayBuffer.empty[Array[Byte]])
    private var buffered = 0L
    private var rows = 0L
    private def overflowed = buffered > TapBufferBytes
    private def keep(j: Int, k: org.apache.spark.unsafe.types.UTF8String): Unit = {
      keys(j) += k.getBytes
      buffered += k.numBytes + 32L
    }
    def row(r: org.apache.spark.sql.catalyst.InternalRow): Unit = {
      rows += 1L
      var i = 0
      while (i < nS) {
        if (!r.isNullAt(off + i)) {
          val v = r.getLong(off + i)
          mins(i) = math.min(mins(i), v)
          maxs(i) = math.max(maxs(i), v)
        }
        i += 1
      }
      var j = 0
      while (j < nB && !overflowed) {
        val ko = off + nS + 2 * j
        if (!r.isNullAt(ko)) {
          val k = r.getUTF8String(ko)
          keep(j, k)
          if (!r.isNullAt(ko + 1) && r.getUTF8String(ko + 1) != k)
            keep(j, r.getUTF8String(ko + 1))
        }
        j += 1
      }
      if (overflowed) keys.foreach(_.clear())
    }
    def done(): Unit = if (rows > 0L) acc.add(p -> TapOut(rows,
      if (overflowed) None
      else Some(PerFileMeta(
        statsCols.indices.collect { case i if mins(i) <= maxs(i) =>
          statsCols(i) -> ((mins(i), maxs(i))) }.toMap,
        bloomCols.indices.map { j =>
          val bf = org.apache.spark.util.sketch.BloomFilter.create(
            bloomSize(2L * rows), fpp)
          keys(j).foreach(bf.putBinary)
          bloomCols(j) -> graft.expressions.BloomExprs.toBytes(bf)
        }.toMap))))
  }

  /** ONE distributed pass over already-written data files computing,
    * per file, BOTH the canonical min/max stats of every `statsCols`
    * column AND a Bloom filter of every `bloomCols` column: the
    * [[indexBloom]] retrofit, and [[writeData]]'s fallback for a file
    * its write tasks could not cover ([[MetaTap]] computes the same
    * metadata while the file is written).
    *
    * Each bloom key inserts under BOTH its raw string rendering (what a
    * `cast(c AS string)` equality probes) and its canonical long-form
    * rendering (what an integral equality probes): a DOUBLE column's raw
    * form is "4.0" while the long probe is "4", and probing a filter that only
    * held the raw form would be a guaranteed FALSE NEGATIVE — a
    * silently dropped matching file. Two insertions at most per row per
    * column; `expectedOf(fileName)` supplies the per-file insertion
    * budget (2×rows from the recorded footer counts), so filters are
    * SIZED TO CONTENT — a compacted 128 MB file gets the bits its fpp
    * needs, a 500-row CDC file no longer pays a fixed 50k-item
    * allocation. Files with no rows are absent from the result. */
  private def statsBloomPass(data: DataFrame,
      statsCols: Seq[String], bloomCols: Seq[String],
      expectedOf: String => Long, fpp: Double = 0.03)
      : Map[String, PerFileMeta] = {
    if (statsCols.isEmpty && bloomCols.isEmpty) return Map.empty
    val nS = statsCols.length
    val nB = bloomCols.length
    val exprs = input_file_name().as("__f") +:
      metaExprs(data.schema, statsCols, bloomCols)
    def update(a: SBAcc, r: Row): SBAcc = {
      var i = 0
      while (i < nS) {
        if (!r.isNullAt(1 + i)) {
          val v = r.getLong(1 + i)
          if (!a.seen(i)) { a.seen(i) = true; a.mins(i) = v; a.maxs(i) = v }
          else {
            if (v < a.mins(i)) a.mins(i) = v
            if (v > a.maxs(i)) a.maxs(i) = v
          }
        }
        i += 1
      }
      var j = 0
      while (j < nB) {
        val k = r.getString(1 + nS + 2 * j)
        if (k != null) {
          a.blooms(j).putBinary(k.getBytes(StandardCharsets.UTF_8))
          val l = r.getString(2 + nS + 2 * j)
          if (l != null && l != k)
            a.blooms(j).putBinary(l.getBytes(StandardCharsets.UTF_8))
        }
        j += 1
      }
      a
    }
    def merge(a: SBAcc, b: SBAcc): SBAcc = {
      var i = 0
      while (i < nS) {
        if (b.seen(i)) {
          if (!a.seen(i)) { a.seen(i) = true; a.mins(i) = b.mins(i); a.maxs(i) = b.maxs(i) }
          else {
            if (b.mins(i) < a.mins(i)) a.mins(i) = b.mins(i)
            if (b.maxs(i) > a.maxs(i)) a.maxs(i) = b.maxs(i)
          }
        }
        i += 1
      }
      var j = 0
      while (j < nB) { a.blooms(j).mergeInPlace(b.blooms(j)); j += 1 }
      a
    }
    data.select(exprs: _*).rdd
      .map(r => (r.getString(0), r))
      .combineByKey(
        (r: Row) => update(new SBAcc(nS, nB,
          expectedOf(r.getString(0).split("/").last), fpp), r),
        (a: SBAcc, r: Row) => update(a, r),
        (a: SBAcc, b: SBAcc) => merge(a, b))
      .collect()
      .map { case (f, a) =>
        f -> PerFileMeta(
          statsCols.zipWithIndex.collect {
            case (c, i) if a.seen(i) => c -> ((a.mins(i), a.maxs(i))) }.toMap,
          bloomCols.zipWithIndex.map { case (c, j) =>
            c -> graft.expressions.BloomExprs.toBytes(a.blooms(j)) }.toMap)
      }.toMap
  }

  /** Write `df` as immutable data files under `<table>/d-<uuid>/` and
    * return their manifest entries: per-file byte sizes (from the
    * listStatus the writer already pays), per-file ROW COUNTS (from the
    * just-written parquet footers — a driver metadata GET per file, no
    * data pass; they size the blooms and replace every "count the
    * written files" job downstream), and NAMED canonical min/max stats
    * of `statsCol` + `extraStatsCols` AND a right-sized per-file Bloom
    * filter of `bloomCol` + `extraBloomCols`, gathered by the write
    * tasks themselves ([[MetaTap]]; [[statsBloomPass]] re-reads only a
    * file the tap could not cover) — so files appended AFTER
    * an [[indexBloom]] call keep the table's bloom coverage instead of
    * silently never being skipped. Bloom payloads land in the write
    * unit's content-addressed PACK ([[writeBloomPack]]), the entry
    * carrying only the pointer — commit bodies stay O(~100 B) per file
    * regardless of filter size. A file with NO rows gets the EMPTY
    * filter (rejects every probe) as a slice of the same pack: sound —
    * a rowless file can never hold a probed equality match — and it
    * keeps footer-only schema keepers out of every point lookup.
    * The files are INVISIBLE to readers until a commit lists them —
    * writing is not publishing. */
  private def writeData(spark: SparkSession, rootP: HPath, fs: FileSystem,
                        table: String, df: DataFrame,
                        statsCol: Option[String],
                        bloomCol: Option[String] = None,
                        extraStatsCols: Seq[String] = Nil,
                        extraBloomCols: Seq[String] = Nil): Seq[FileEntry] = {
    require(table.matches("[A-Za-z0-9._-]+"), s"illegal table name: $table")
    dataWrites.incrementAndGet()
    val dir = s"$table/d-${uuid()}"
    val full = new HPath(rootP, dir)
    val statsCols = (statsCol.toSeq ++ extraStatsCols).distinct
    val bloomCols = (bloomCol.toSeq ++ extraBloomCols).distinct
    // INTEGRAL and DATE stats columns read their exact min/max straight
    // from the parquet FOOTERS this loop already opens for row counts:
    // parquet records signed-exact INT32/INT64 chunk stats, and
    // [[canonLongExpr]] is the identity on integrals / epoch-day on
    // DATE (which parquet stores as INT32 epoch days) — so when a write
    // carries no bloom columns, it needs nothing else. Non-integral
    // stats or any bloom column are gathered by the write tasks below.
    val footerable = statsCols.filter { c =>
      df.schema.find(_.name == c).map(_.dataType).exists {
        case org.apache.spark.sql.types.ByteType |
             org.apache.spark.sql.types.ShortType |
             org.apache.spark.sql.types.IntegerType |
             org.apache.spark.sql.types.LongType |
             org.apache.spark.sql.types.DateType => true
        case _ => false
      }
    }
    val footerOnly = bloomCols.isEmpty && statsCols.forall(footerable.contains)
    // every other write gathers its files' stats and blooms IN the
    // write job: each write task writes one file from one partition,
    // so a per-partition tap sees exactly that file's rows — no second
    // job re-reading the bytes just written
    val tap = if (footerOnly) None else Some(
      spark.sparkContext.collectionAccumulator[(Int, TapOut)]("writeTap"))
    val off = df.schema.length
    tap.fold(df)(a => org.apache.spark.sql.graftbridge.RowTapBridge.tapped(
        df, metaExprs(df.schema, statsCols, bloomCols),
        p => new MetaTap(p, off, statsCols, bloomCols, a, 0.03)))
      .write.parquet(full.toString)
    val listed = fs.listStatus(full)
      .filter(_.getPath.getName.endsWith(".parquet"))
      .sortBy(_.getPath.getName).toSeq
    require(listed.nonEmpty, s"writeData: no parquet files produced at $full")
    val conf = spark.sparkContext.hadoopConfiguration
    val conversion = ParquetSchemaBridge.conversion(spark)
    // footer opens are independent metadata reads — do them
    // concurrently instead of one driver round-trip per file
    val footerMeta: Seq[(String, Long, Map[String, (Long, Long)])] =
      graft.Overlap.map(listed) { s =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile
          .fromPath(s.getPath, conf)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try {
          // every file of one write shares its schema: record it from
          // the first footer, so no later read of this write infers it
          if (s eq listed.head)
            schemaCache.put((full.toString, conversion),
              ParquetSchemaBridge.footerSchema(s.getPath, r.getFooter,
                conversion))
          val stats: Map[String, (Long, Long)] =
            if (!footerOnly || footerable.isEmpty) Map.empty
            else {
              import scala.jdk.CollectionConverters._
              val blocks = r.getFooter.getBlocks.asScala.toSeq
              footerable.flatMap { c =>
                val chunks = blocks.flatMap(_.getColumns.asScala
                  .filter(_.getPath.toDotString == c))
                var mn = Long.MaxValue
                var mx = Long.MinValue
                var seen = true
                var any = false
                chunks.foreach { cc =>
                  val st = cc.getStatistics
                  if (st == null || st.isEmpty)
                    seen = false // unrecorded chunk stats: record nothing
                  else if (st.hasNonNullValue) {
                    val (a, b) = (st.genericGetMin, st.genericGetMax) match {
                      case (x: java.lang.Long, y: java.lang.Long) =>
                        (x.longValue(), y.longValue())
                      case (x: java.lang.Integer, y: java.lang.Integer) =>
                        (x.longValue(), y.longValue())
                      case _ => seen = false; (0L, 0L)
                    }
                    if (seen) {
                      any = true
                      if (a < mn) mn = a
                      if (b > mx) mx = b
                    }
                  } // all-null chunk: contributes nothing, like the scan
                }
                // absent stats are SOUND (the file is never skipped);
                // partial/unreadable stats record nothing rather than
                // a possibly-narrower-than-true envelope
                if (seen && any && chunks.nonEmpty) Some(c -> ((mn, mx)))
                else None
              }.toMap
            }
          (s.getPath.getName, r.getRecordCount, stats)
        } finally r.close()
      }
    val rowsByName: Map[String, Long] =
      footerMeta.map { case (n, rows, _) => n -> rows }.toMap
    // a tapped file's metadata is taken only when its task wrote it
    // alone, reported once and saw exactly its footer's rows; any other
    // file with rows (a task past TapBufferBytes, a task that wrote
    // several files) goes through the post-write pass
    val tapped: Map[String, PerFileMeta] = tap.fold(Map.empty[String, PerFileMeta]) { a =>
      import scala.jdk.CollectionConverters._
      val byTask = a.value.asScala.toSeq.groupBy(_._1)
      listed.map(_.getPath.getName)
        .groupBy(n => TaskFile.findFirstMatchIn(n).map(_.group(1).toInt))
        .collect { case (Some(p), Seq(n)) => (n, byTask.get(p)) }
        .collect { case (n, Some(Seq((_, TapOut(rows, Some(m))))))
          if rows == rowsByName(n) => n -> m }
    }
    val rest = listed.filter(s => rowsByName(s.getPath.getName) > 0L &&
      !tapped.contains(s.getPath.getName))
    val metaOf: Map[String, PerFileMeta] =
      if (footerOnly) footerMeta.map { case (n, _, st) =>
        n -> PerFileMeta(st, Map.empty) }.toMap
      else if (rest.isEmpty) tapped
      else tapped ++ statsBloomPass(
        scan(spark, rootP, -1L, rest.map(s => FileEntry(table,
          s"$dir/${s.getPath.getName}", None, None, bytes = Some(s.getLen)))),
        statsCols, bloomCols, fname => 2L * rowsByName(fname))
        // keys are full file paths: index by basename
        .map { case (f, m) => f.substring(f.lastIndexOf('/') + 1) -> m }
    // one pack object per write unit, rowless files included — see
    // [[writeBloomPack]]
    val packed = writeBloomPack(fs, rootP, table,
      for {
        s <- listed; n = s.getPath.getName
        kc <- bloomCols
      } yield ((n, kc), metaOf.get(n).flatMap(_.blooms.get(kc))
        .getOrElse(emptyBloomBytes)))
    listed.map { s =>
      val n = s.getPath.getName
      val meta = metaOf.get(n)
      val stats = meta.fold(Map.empty[String, (Long, Long)])(_.stats)
      val primary = statsCols.headOption.flatMap(stats.get)
      var e = FileEntry(table, s"$dir/$n",
        primary.map(_._1), primary.map(_._2),
        statsName = statsCols.headOption.filter(_ =>
          primary.isDefined),
        bytes = Some(s.getLen),
        stats2 = statsCols.drop(1).flatMap(c =>
          stats.get(c).map { case (a, b) => (c, a, b) }),
        rows = rowsByName.get(n))
      bloomCols.foreach { kc =>
        e = e.withBloom(kc, packed((n, kc)))
      }
      e
    }
  }

  /** Serialized empty Bloom filter — what a rowless file carries:
    * rejects every probe, which is exact for such a file. */
  private lazy val emptyBloomBytes: Array[Byte] =
    graft.expressions.BloomExprs.toBytes(
      org.apache.spark.util.sketch.BloomFilter.create(1L, 0.03))

  private def sha16(bytes: Array[Byte]): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(bytes).take(16).map("%02x".format(_)).mkString

  /** Write ALL of one write-unit's (file, column) bloom filters as ONE
    * immutable content-addressed PACK object under `<table>/_blooms/`
    * (`p-<hex>.pack.bloom`) and return per-(fileName, column) pointer
    * payloads `@<rel>#<offset>:<len>` — O(1) objects per commit, not
    * O(files × bloomCols) (guide §6 small files). Identical filter
    * bytes dedup to one slice. Content addressing makes the write
    * idempotent (a same-content racer lands on the same name; either
    * rename outcome leaves the right bytes) and lets carried entries
    * reuse their pack untouched forever — a pack is only ever deleted
    * by [[vacuum]], and only when NO retained version points into it. */
  private def writeBloomPack(fs: FileSystem, rootP: HPath, table: String,
      filters: Seq[((String, String), Array[Byte])])
      : Map[(String, String), String] = {
    if (filters.isEmpty) return Map.empty
    val offsets = scala.collection.mutable.LinkedHashMap
      .empty[String, (Array[Byte], Long)]
    var off = 0L
    val slices = filters.map { case (k, bytes) =>
      val (_, o) = offsets.getOrElseUpdate(sha16(bytes),
        { val r = (bytes, off); off += bytes.length; r })
      (k, (o, bytes.length))
    }
    val bos = new java.io.ByteArrayOutputStream()
    offsets.values.foreach { case (b, _) => bos.write(b) }
    val pack = bos.toByteArray
    val rel = s"$table/_blooms/p-${sha16(pack)}.pack.bloom"
    val dest = new HPath(rootP, rel)
    if (!fs.exists(dest)) {
      fs.mkdirs(dest.getParent)
      val tmp = new HPath(dest.getParent, s".tmp-${uuid()}")
      val out = fs.create(tmp, false)
      try out.write(pack) finally out.close()
      if (!fs.rename(tmp, dest)) {
        fs.delete(tmp, false) // lost a same-content race: dest is right
        require(fs.exists(dest), s"bloom pack write failed: $dest")
      }
    }
    slices.map { case (k, (o, l)) =>
      k -> s"$PointerMark$rel#$o:$l" }.toMap
  }

  /** Driver-side cache of immutable bloom packs — content-addressed
    * files never change, so a hit is valid forever; bounded in bytes
    * (one pack holds a whole write unit's filters, so entry sizes vary
    * by orders of magnitude), and correctness never depends on a hit. */
  private val BloomCacheBytes = 64L << 20
  private val bloomPackCache = new ByteBoundedCache[String, Array[Byte]](
    BloomCacheBytes, (k, bytes) => 2L * k.length + bytes.length)

  /** The probe-ready filter a bloom payload points at: the pack is read
    * and cached WHOLE (one object per write unit, so every file's probe
    * of one commit shares a single read), and the filter deserializes
    * straight from its slice. A payload that is not
    * `@<rel>#<offset>:<len>`, or whose slice lies outside the pack,
    * fails a require naming it. */
  private[etl] def bloomFilterOf(fs: FileSystem, rootP: HPath, payload: String)
      : org.apache.spark.util.sketch.BloomFilter = {
    val raw = payload.stripPrefix(PointerMark)
    val i = raw.indexOf('#')
    val slice =
      if (!payload.startsWith(PointerMark) || i < 0) None
      else raw.substring(i + 1).split(":", -1).map(_.toLongOption) match {
        case Array(Some(o), Some(l)) if o >= 0L && l >= 0L => Some((o, l))
        case _ => None
      }
    require(slice.isDefined,
      s"corrupt bloom pack pointer (want @<rel>#<offset>:<len>): $payload")
    val (o, l) = slice.get
    val p = new HPath(rootP, raw.substring(0, i))
    val whole = bloomPackCache.getOrElseUpdate(p.toString) {
      val in = fs.open(p)
      try {
        val bos = new java.io.ByteArrayOutputStream()
        val buf = new Array[Byte](65536)
        var n = in.read(buf)
        while (n >= 0) { bos.write(buf, 0, n); n = in.read(buf) }
        bos.toByteArray
      } finally in.close()
    }
    require(o <= whole.length && l <= whole.length - o,
      s"bloom pack pointer out of range (pack holds " +
        s"${whole.length} bytes): $payload")
    org.apache.spark.util.sketch.BloomFilter.readFrom(
      new java.io.ByteArrayInputStream(whole, o.toInt, l.toInt))
  }

  /** Rows across data entries — manifest arithmetic over the footer
    * counts every data entry carries ([[parseV2]] rejects one without),
    * replacing a count job over the files. */
  private def rowsOf(entries: Seq[FileEntry]): Long =
    entries.map(e => e.rows.getOrElse(sys.error(
      s"data entry without a row count: ${e.relPath}"))).sum

  /** [[writeData]] under the ONE-EXECUTION + footer-only discipline
    * shared by every rewrite path (transactionalMerge,
    * transactionalAppendAll, deleteWhere, mergeInto): write FIRST, then
    * count what was written (footer row counts off the manifest
    * entries) — an isEmpty pre-check would run the plan twice, and a
    * non-deterministic frame could then commit rows the probe never
    * saw. An EMPTY result either collapses to ONE footer-only file
    * (`keepSchemaIfEmpty` — no other file of the table survives the
    * commit, so the schema must; the deleteWhere readability contract)
    * or deletes the dir and contributes no entry. The schema for the
    * collapse reads back from the written footers — nothing of the
    * original plan re-executes. */
  private def writeDataNonEmptyOr(spark: SparkSession, rootP: HPath,
                                  fs: FileSystem, table: String,
                                  df: DataFrame, statsCol: Option[String],
                                  bloomCol: Option[String],
                                  keepSchemaIfEmpty: Boolean,
                                  extraBloomCols: Seq[String] = Nil,
                                  extraStatsCols: Seq[String] = Nil): Seq[FileEntry] = {
    val written = writeData(spark, rootP, fs, table, df, statsCol, bloomCol,
      extraStatsCols = extraStatsCols, extraBloomCols = extraBloomCols)
    val dir = new HPath(rootP, written.head.relPath).getParent
    val n = rowsOf(written)
    if (n > 0L) written
    else if (!keepSchemaIfEmpty) { fs.delete(dir, true); Nil }
    else {
      val schema = schemaOf(spark, rootP, written.head)
      fs.delete(dir, true)
      val empty = spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      // bloom columns ride along so the schema keeper carries (empty)
      // filters like every other file of the table: a rowless file can
      // never hold an equality match, so rejecting all probes is exact,
      // and the keeper stops being scanned by every point lookup forever
      writeData(spark, rootP, fs, table, empty.repartition(1), statsCol,
        bloomCol, extraStatsCols = extraStatsCols,
        extraBloomCols = extraBloomCols)
    }
  }

  private def entriesOf(c: Option[Commit], table: String): Seq[FileEntry] =
    c.map(_.entries.filter(_.table == table)).getOrElse(Nil)

  /** `table`'s rows in `entries` (of commit `version`). The merging
    * read stays on `spark.read`: a merged schema is the union of every
    * footer, which only Spark's inference computes. */
  private def toDf(spark: SparkSession, rootP: HPath, version: Long,
                   entries: Seq[FileEntry], table: String,
                   mergeSchema: Boolean = false): DataFrame = {
    val mine = entries.filter(_.table == table)
    require(mine.nonEmpty, s"no table '$table' in this version")
    if (mergeSchema) spark.read.option("mergeSchema", "true")
      .parquet(mine.map(e => new HPath(rootP, e.relPath).toString): _*)
    else scan(spark, rootP, version, mine)
  }

  /** Data schema of every write directory (`<table>/d-<uuid>`) this
    * driver wrote or read, per parquet conversion settings: [[writeData]]
    * records it from a footer it opens anyway, so reading a table never
    * runs Spark's schema-inference job for files this driver wrote. A
    * directory another driver wrote is inferred on first use. Bounded in
    * bytes; a miss only costs the inference again. */
  private[graft] val SchemaCacheBytes = 4L << 20
  private val schemaCache = new ByteBoundedCache[
      (String, ParquetSchemaBridge.Conversion), StructType](SchemaCacheBytes,
    (k, st) => 2L * k._1.length + org.apache.spark.util.SizeEstimator.estimate(st))

  /** (entries, bytes) the schema cache holds — for specs. */
  private[graft] def schemaCacheFootprint: (Int, Long) = schemaCache.footprint

  /** The schema a non-merging `spark.read.parquet` infers when `first`
    * is its first file — the schema of `first`'s write unit. */
  private def schemaOf(spark: SparkSession, rootP: HPath,
                       first: FileEntry): StructType = {
    val file = new HPath(rootP, first.relPath)
    schemaCache.getOrElseUpdate(
        (file.getParent.toString, ParquetSchemaBridge.conversion(spark)))(
      spark.read.parquet(file.toString).schema)
  }

  /** The one non-merging read of manifest entries: `files` (one table's,
    * of commit `version`; -1 for files no commit lists yet) planned
    * through a [[ManifestFileIndex]] under the schema [[schemaOf]] knows
    * for the first of them — no listing, no stat, no schema-inference
    * job, and the index skips files by the module's one rule. */
  private def scan(spark: SparkSession, rootP: HPath, version: Long,
                   files: Seq[FileEntry]): DataFrame = {
    require(files.nonEmpty, "scan: no files")
    val index = ManifestFileIndex(rootP.toString, version, files.head.table,
      files)(spark)
    spark.baseRelationToDataFrame(HadoopFsRelation(index, new StructType(),
      schemaOf(spark, rootP, files.head), None, new ParquetFileFormat,
      Map.empty)(spark))
  }

  /** `entries`' rows of `table` at `version` of `root` — the read a
    * change-stream delivery builds from the entries it was handed. */
  private[graft] def frameOf(spark: SparkSession, root: String, version: Long,
                             table: String, entries: Seq[FileEntry]): DataFrame =
    toDf(spark, fsFor(spark, root)._2, version, entries, table)

  // ------------------------------------------------------------------ reads

  /** Manifest-resolved read of the latest version. With `mergeSchema`,
    * versions whose appends ADDED columns read back under the union
    * schema, older files null-filling the new columns — schema evolution
    * without rewriting history (additions only; a type change or drop
    * still needs an explicit migration via [[overwrite]]). */
  def read(spark: SparkSession, root: String, table: String,
           mergeSchema: Boolean = false): DataFrame = {
    val (_, rootP) = fsFor(spark, root)
    val c = current(spark, root).getOrElse(
      throw new IllegalArgumentException(s"no committed table under $root"))
    toDf(spark, rootP, c.version, c.entries, table, mergeSchema)
  }

  /** [[read]] filtered to `statsCol`'s canonical long in [lo, hi] — the
    * filter the index skips files by. */
  def readPruned(spark: SparkSession, root: String, table: String,
                 statsCol: String, lo: Long, hi: Long): DataFrame = {
    val df = read(spark, root, table)
    val cl = canonLongExpr(statsCol,
      df.schema.find(_.name == statsCol).map(_.dataType))
    df.filter(cl >= lo && cl <= hi)
  }

  // ------------------------------------------------------------ bloom index

  /** UTF-8 bytes of the canonical string form a value is probed/inserted
    * under — both sides of the bloom contract go through here. */
  private[etl] def bloomKeyBytes(v: Any): Array[Byte] =
    String.valueOf(v).getBytes(StandardCharsets.UTF_8)

  /** Metadata-only version that attaches a per-file Bloom filter of
    * `keyCol` to every data file of `table`: min/max stats skip
    * RANGE predicates on the clustered column, blooms skip EQUALITY
    * probes on keys UNCORRELATED with the layout (a digest, a user id, a
    * join key) — the case range stats can never help with. Data files are
    * carried byte-identical (not rewritten, not even re-listed); only the
    * commit file changes, so this composes like [[compact]]: a
    * background maintenance op, never an outage.
    *
    * One distributed pass ([[statsBloomPass]]) builds every file's
    * filter, SIZED per file from its manifest-recorded row count;
    * payloads land in one content-addressed pack, the commit carrying
    * only pointers — the commit body stays ~100 B per file however
    * large the filters are.
    *
    * Files written AFTER this call (appends, compactions) carry no bloom
    * and are simply never skipped — re-run indexBloom to re-cover them.
    * Returns the new version. */
  def indexBloom(spark: SparkSession, root: String, table: String,
                 keyCol: String, fpp: Double = 0.03): Long = {
    val (fs, rootP) = fsFor(spark, root)
    val cur = current(spark, root).getOrElse(
      throw new IllegalArgumentException(s"no committed table under $root"))
    val mine = entriesOf(Some(cur), table)
    require(mine.nonEmpty, s"no table '$table' under $root")
    val rowsByName: Map[String, Long] = mine.map(e =>
      e.relPath.split("/").last -> rowsOf(Seq(e))).toMap
    val blooms = statsBloomPass(scan(spark, rootP, cur.version, mine), Nil,
      Seq(keyCol), fname => 2L * rowsByName(fname), fpp)
    // one pack per retrofit call (see [[writeBloomPack]]), keyed here by
    // the entry's relPath since retrofits span multiple write dirs
    val packed = writeBloomPack(fs, rootP, table,
      for {
        e <- mine
        m <- blooms.collectFirst {
          case (f, mm) if f.endsWith(e.relPath) => mm }.toSeq
        bytes <- m.blooms.get(keyCol).toSeq
      } yield ((e.relPath, keyCol), bytes))
    val updated = mine.map { e =>
      packed.get((e.relPath, keyCol)).fold(e)(e.withBloom(keyCol, _))
      // footer-only files keep no bloom, are never skipped
    }
    writeCommit(fs, rootP, cur.version + 1L,
      cur.entries.filterNot(_.table == table) ++ updated,
      parent = Some(cur.entries))
  }

  /** [[read]] filtered to `keyCol`'s string form equal to `value`'s —
    * the equality the index skips files by through their blooms. */
  def readPrunedEq(spark: SparkSession, root: String, table: String,
                   keyCol: String, value: Any): DataFrame =
    read(spark, root, table)
      .filter(col(keyCol).cast("string") === lit(String.valueOf(value)))

  // ----------------------------------------------------------------- writes

  /** All-or-nothing multi-table publish (T1). Every table's data files
    * are fully written BEFORE the single commit file appears; a failure
    * during any write aborts with the previous version still serving.
    * Tables absent from `tables` carry over unchanged from the current
    * version (publishing a subset never drops the rest). Returns the new
    * version. */
  def publish(spark: SparkSession, root: String, tables: Map[String, DataFrame],
              statsCols: Map[String, String] = Map.empty,
              bloomCols: Map[String, String] = Map.empty,
              extraBloomCols: Map[String, Seq[String]] = Map.empty,
              extraStatsCols: Map[String, Seq[String]] = Map.empty): Long = {
    require(tables.nonEmpty, "publish: no tables")
    val (fs, rootP) = fsFor(spark, root)
    fs.mkdirs(rootP)
    val cur = current(spark, root)
    val fresh = graft.Overlap.map(tables.toSeq.sortBy(_._1)) { case (name, df) =>
      writeData(spark, rootP, fs, name, df, statsCols.get(name),
        bloomCols.get(name),
        extraStatsCols = extraStatsCols.getOrElse(name, Nil),
        extraBloomCols = extraBloomCols.getOrElse(name, Nil))
    }.flatten
    val carried = cur.map(_.entries.filterNot(e => tables.contains(e.table)))
      .getOrElse(Nil)
    writeCommit(fs, rootP, cur.fold(1L)(_.version + 1L), carried ++ fresh,
      parent = cur.map(_.entries))
  }

  /** Single-table full replace. */
  def overwrite(spark: SparkSession, root: String, table: String, df: DataFrame,
                statsCol: Option[String] = None,
                bloomCol: Option[String] = None,
                extraBloomCols: Seq[String] = Nil): Long =
    publish(spark, root, Map(table -> df),
      statsCol.fold(Map.empty[String, String])(c => Map(table -> c)),
      bloomCol.fold(Map.empty[String, String])(c => Map(table -> c)),
      if (extraBloomCols.isEmpty) Map.empty else Map(table -> extraBloomCols))

  /** [[publish]] gated by declarative expectations — the engine-side
    * analog of the reference's constraint-rejecting transactional load
    * (the database refuses a violating INSERT and the WHOLE transaction
    * rolls back, `main.py:173-195` + the DDL's PK/UNIQUE/NOT NULL/CHECK
    * constraints): every table's checks run FIRST
    * ([[graft.operators.Validate.expectationSuite]] — all checks in one
    * aggregation pass per table, a NULL verdict counts as a violation),
    * and any violation aborts with the failing check names before a
    * single data file is written — the previous version keeps serving.
    * Each checked frame is lineage-cut so the validation and the write
    * see the SAME rows even for non-deterministic inputs. A checked
    * frame that another checked frame's plan contains (a dimension a
    * fact semi-joins) is cached while the cuts run
    * ([[cacheSharedSubtrees]]), so every cut reads one computation of
    * it — a fact is filtered against exactly the dimension rows that
    * get published. Returns the committed version. */
  def publishChecked(spark: SparkSession, root: String,
                     tables: Map[String, DataFrame],
                     checks: Map[String, Seq[(String, Column)]],
                     uniqueKeys: Map[String, Seq[Seq[String]]] = Map.empty,
                     foreignKeys: Seq[(String, String, Seq[String], String, Seq[String])] = Nil,
                     statsCols: Map[String, String] = Map.empty,
                     bloomCols: Map[String, String] = Map.empty): Long = {
    require(checks.keySet.subsetOf(tables.keySet),
      s"checks reference unknown tables: ${checks.keySet -- tables.keySet}")
    require(uniqueKeys.keySet.subsetOf(tables.keySet),
      s"uniqueKeys reference unknown tables: ${uniqueKeys.keySet -- tables.keySet}")
    foreignKeys.foreach { case (n, ct, cc, pt, pc) =>
      require(tables.contains(ct) && tables.contains(pt),
        s"foreign key $n references unknown tables ($ct -> $pt)")
      require(cc.nonEmpty && cc.length == pc.length,
        s"foreign key $n: child/parent column lists must align")
    }
    def hasChecks(name: String) =
      checks.get(name).exists(_.nonEmpty) ||
        uniqueKeys.get(name).exists(_.nonEmpty) ||
        foreignKeys.exists(fk => fk._2 == name || fk._4 == name)
    val checked = tables.filter { case (name, _) => hasChecks(name) }
    val shared = cacheSharedSubtrees(checked.values.toSeq)
    val cut = try tables ++ checked.map { case (name, df) =>
      name -> graft.operators.Lineage.cut(df)
    } finally shared.foreach(_.unpersist())
    val rowFailures = checks.toSeq.sortBy(_._1).flatMap { case (name, cs) =>
      if (cs.isEmpty) Nil
      else graft.operators.Validate.expectationSuite(cut(name), cs)
        .filter(!col("pass"))
        .select(col("check"), col("n_violations")).collect()
        .map(r => s"$name.${r.getString(0)} (${r.getLong(1)} violations)")
    }
    // PK/UNIQUE are not row-local: one groupBy per key set; NULL keys
    // group together (the T-SQL single-NULL uniqueness shape)
    val dupFailures = uniqueKeys.toSeq.sortBy(_._1).flatMap { case (name, keys) =>
      keys.flatMap { k =>
        require(k.nonEmpty, s"empty unique key for $name")
        val dups = cut(name).groupBy(k.map(col): _*)
          .count().filter(col("count") > 1L).count()
        if (dups > 0L)
          Some(s"$name.unique(${k.mkString(",")}) ($dups duplicate keys)")
        else None
      }
    }
    // FK integrity: non-null child keys with no parent row (SQL
    // semantics: a NULL FK component passes). One anti-join per
    // relation — Catalyst broadcasts dim-sized parents.
    val fkFailures = foreignKeys.flatMap { case (cname, ct, cc, pt, pc) =>
      val child = cut(ct).select(cc.map(col): _*).na.drop("any")
      val parent = cut(pt).select(pc.zip(cc).map {
        case (p, c) => col(p).as(c) }: _*)
      val orphans = child.join(parent, cc, "left_anti").count()
      if (orphans > 0L) Some(s"$ct.$cname ($orphans orphaned rows)")
      else None
    }
    val failures = rowFailures ++ dupFailures ++ fkFailures
    if (failures.nonEmpty)
      throw new IllegalStateException(
        s"publishChecked: constraint violations — nothing committed: " +
          failures.mkString("; "))
    publish(spark, root, cut, statsCols, bloomCols)
  }

  /** Cache the frames of `frames` that another one's plan contains — in
    * the opinion star, the dimensions the facts semi-join and look up —
    * so each is computed once for all its consumers instead of once per
    * lineage cut that reads it. Containment is `sameResult` on analyzed
    * plans, the match Spark's CacheManager applies, so a match here is a
    * subtree the consumers' plans will read from the cache. Contained frames are the shared
    * ones only: a frame nothing else reads (a fact) is never cached, so
    * it is not stored twice beside its cut. A frame already cached (by
    * the caller, or equal to one cached here) is skipped. Returns the
    * frames cached here, for the caller to unpersist. */
  private def cacheSharedSubtrees(frames: Seq[DataFrame]): Seq[DataFrame] = {
    val plans = frames.map(_.queryExecution.analyzed)
    frames.zip(plans).zipWithIndex.collect {
      case ((df, p), i) if df.storageLevel == StorageLevel.NONE &&
          plans.indices.exists(j =>
            j != i && plans(j).find(_.sameResult(p)).isDefined) =>
        df.persist()
    }
  }

  /** Idempotent incremental append (S4/J2, `load_data_conditionally`
    * main.py:45-59): anti-join `incoming` against the CURRENT version's
    * keys, write only the fresh rows as new files, commit old+new. A
    * re-run appends 0 rows and creates NO new version. The anti-join
    * reads the old files while the new files are written elsewhere, and
    * nothing is visible until the commit lands. Returns rows appended. */
  def appendNew(spark: SparkSession, root: String, table: String,
                incoming: DataFrame, key: Seq[String],
                statsCol: Option[String] = None,
                bloomCol: Option[String] = None,
                extraBloomCols: Seq[String] = Nil,
                extraStatsCols: Seq[String] = Nil): Long = {
    val (fs, rootP) = fsFor(spark, root)
    fs.mkdirs(rootP)
    val cur = current(spark, root)
    val prior = entriesOf(cur, table)
    if (prior.isEmpty) {
      // write FIRST, count, commit only if non-empty — one execution of
      // `incoming` even when it is non-deterministic, and the same
      // "0 rows -> no new version" contract as the initialized path
      // (an intentionally-empty table is publish/overwrite's job)
      val newEntries = writeData(spark, rootP, fs, table, incoming, statsCol,
        bloomCol, extraStatsCols = extraStatsCols,
        extraBloomCols = extraBloomCols)
      val newDir = new HPath(rootP, newEntries.head.relPath).getParent
      val n = rowsOf(newEntries)
      if (n == 0L) { fs.delete(newDir, true); return 0L }
      val carried = cur.map(_.entries).getOrElse(Nil)
      writeCommit(fs, rootP, cur.fold(1L)(_.version + 1L),
        carried ++ newEntries, parent = cur.map(_.entries))
      return n
    }
    val existing = toDf(spark, rootP, cur.get.version, prior, table)
    val fresh = IncrementalLoad.newRowsOnly(incoming, existing, key)
    // write FIRST, then count the written files (a parquet metadata-only
    // count) — one execution of the anti-join, no staging step, and the
    // old files the plan reads are untouched throughout
    val newEntries = writeData(spark, rootP, fs, table, fresh, statsCol,
      bloomCol, extraStatsCols = extraStatsCols,
      extraBloomCols = extraBloomCols)
    val newDir = new HPath(rootP, newEntries.head.relPath).getParent
    val n = rowsOf(newEntries)
    if (n == 0L) { fs.delete(newDir, true); return 0L } // no new version
    writeCommit(fs, rootP, cur.get.version + 1L,
      cur.get.entries ++ newEntries, parent = Some(cur.get.entries))
    n
  }

  /** Targeted deletion at FILE granularity: only files that contain a
    * matching row are rewritten (the index's skip rule, judged on the
    * predicate, has already bounded which files those can be); all
    * other files are carried into the new version untouched —
    * byte-identical, not even re-read at commit time. Crash-consistent
    * ACROSS files: either the single new commit lands (all affected
    * files replaced at once) or nothing changes. A row whose predicate
    * is NULL is kept (SQL DELETE semantics). Returns
    * (filesRewritten, rowsDeleted). */
  def deleteWhere(spark: SparkSession, root: String, table: String,
                  predicate: Column, statsCol: Option[String] = None,
                  bloomCol: Option[String] = None,
                  extraBloomCols: Seq[String] = Nil,
                  extraStatsCols: Seq[String] = Nil): (Long, Long) = {
    val (fs, rootP) = fsFor(spark, root)
    val cur = current(spark, root).getOrElse(
      throw new IllegalArgumentException(s"no committed table under $root"))
    val mine = entriesOf(Some(cur), table)
    require(mine.nonEmpty, s"no table '$table' under $root")
    // discovery: the index's skip rule, judged on the resolved bare
    // predicate, narrows the files to scan. A NULL verdict keeps the row:
    // the filter drops it from discovery, coalesce keeps it below.
    val cand = ManifestFileIndex.keptByFilter(
      scan(spark, rootP, cur.version, mine).filter(predicate))
    recordDiscoveryStats(rootP, table,
      DiscoveryStats(cand.size.toLong, mine.size.toLong))
    if (cand.isEmpty) return (0L, 0L)
    val affectedFiles = scan(spark, rootP, cur.version, cand).filter(predicate)
      .select(input_file_name().as("f")).distinct()
      .collect().map(_.getString(0)).toSet
    if (affectedFiles.isEmpty) return (0L, 0L)
    val (aff, keep) = partitionAffected(rootP, mine, affectedFiles)
    val keepRows = scan(spark, rootP, cur.version, aff)
      .filter(!coalesce(predicate, lit(false)))
    // a fully-emptied table still commits one footer-only file so the
    // next read keeps its schema (the deleteWhere readability contract)
    val newEntries = writeDataNonEmptyOr(spark, rootP, fs, table, keepRows,
      statsCol, bloomCol, keepSchemaIfEmpty = keep.isEmpty, extraBloomCols,
      extraStatsCols)
    // deleted-row count by manifest arithmetic — affected footer rows
    // minus the survivor rows the rewrite just recorded — instead of a
    // separate filter-count pass over the affected files
    val nDel = rowsOf(aff) - rowsOf(newEntries)
    writeCommit(fs, rootP, cur.version + 1L,
      cur.entries.filterNot(e => e.table == table) ++ keep ++ newEntries,
      parent = Some(cur.entries))
    (aff.size.toLong, nDel)
  }

  /** Last discovery narrowing outcome per (root, table): how many of
    * the table's files discovery kept for its scan vs held — the
    * observability hook for [[affectedByKeys]]'s and [[deleteWhere]]'s
    * candidate narrowing.
    * Keyed by table too: merges on DIFFERENT tables under one root (the
    * CorpusIngest corpus+index shape) must not overwrite each other's
    * counts. The table-less accessor returns the root's most recent
    * record (whatever table it was for) — the pre-r17 reading. */
  final case class DiscoveryStats(scannedFiles: Long, totalFiles: Long)
  private val discoveryStatsRegistry =
    new java.util.concurrent.ConcurrentHashMap[(String, String), DiscoveryStats]()
  private val discoveryStatsLastTable =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def recordDiscoveryStats(rootP: HPath, table: String,
                                   st: DiscoveryStats): Unit = {
    val p = rootP.toUri.getPath
    discoveryStatsRegistry.put((p, table), st)
    discoveryStatsLastTable.put(p, table)
  }
  def mergeDiscoveryStats(root: String, table: String): Option[DiscoveryStats] =
    Option(discoveryStatsRegistry.get(
      (new HPath(root).toUri.getPath, table)))
  def mergeDiscoveryStats(root: String): Option[DiscoveryStats] = {
    val p = new HPath(root).toUri.getPath
    Option(discoveryStatsLastTable.get(p))
      .flatMap(t => Option(discoveryStatsRegistry.get((p, t))))
  }

  /** Driver-side cap on collected probe keys for exact per-file
    * candidate tests; past it discovery falls back to the range
    * envelope (still sound, coarser). A var ONLY so specs can drive
    * the overflow path without a 100k-row fixture; production never
    * writes it. */
  private[graft] var MaxCollectedProbeKeys = 100000L

  /** Driver budget for bloom-probe work (files-with-bloom × probe
    * forms); past it the bloom narrowing is skipped, never partial —
    * probing a SUBSET of keys would be a false negative. */
  private val MaxBloomProbeWork = 50000000L

  /** The candidate files a merge's probe keys could possibly live in —
    * discovery narrowing so the per-batch semi-join scan reads
    * O(candidates), not O(table). Sound by construction (a skipped
    * file provably contains NO probe key):
    *   - manifest min/max on a key column — applied only when the
    *     file's RECORDED stats name matches the column: exact per-file
    *     containment against the collected probe-key set when it is
    *     bounded (a sorted-array binary search per file), the coarse
    *     [batchMin,batchMax] envelope past
    *     [[MaxCollectedProbeKeys]];
    *   - per-file Bloom filters on the column (write-time or
    *     [[indexBloom]]-retrofitted, primary or secondary slot): a
    *     range-surviving file whose filter rejects every probe key is
    *     skipped — the narrowing that survives insert-heavy batches,
    *     whose fresh keys blow any range envelope. No false negatives,
    *     so never lossy.
    * Files without stats/bloom on a column are always candidates for
    * that column. MULTI-COLUMN keys narrow per column and intersect:
    * per-column containment is NECESSARY for tuple containment, so a
    * file rejected on any one covered column cannot hold a probe tuple
    * — composite-key merges narrow on whichever columns have coverage.
    * At 100 TB this is the difference between a CDC batch scanning the
    * table and scanning the handful of files its keys cluster into. */
  /** May file-skipping metadata computed over a TABLE column of type
    * `tableT` be probed with values of type `probeT`? Sound cases only:
    *  - identical types: the equality the consumer re-applies (semi
    *    join / predicate) is same-type, so the canonical string/long
    *    cast forms both sides go through are the same function of the
    *    same values — a match implies a probe-form hit;
    *  - both EXACT numeric (integral/decimal): Spark widens both sides
    *    to an exact numeric type, a match means exact numeric equality,
    *    and the LONG-cast form is then a function of the shared value —
    *    both stats (long min/max) and blooms (long-form insertion) see
    *    every matching row, at any magnitude;
    *  - both FLOATING (float/double): float→double widening is exact,
    *    so matching values share one double, whose truncation both
    *    sides' long casts compute identically.
    * A MIXED exact/floating pair must NOT narrow: the comparison widens
    * to DOUBLE, and above 2^53 many distinct longs satisfy equality
    * with one double — the probe's single long-cast rendering would
    * miss the matching rows' renderings (a bloom/stats false negative,
    * i.e. a silently lost merge/delete on snowflake-scale ids). Nor may
    * anything else — above all STRING columns compared against
    * numerics, where Spark coerces to DOUBLE and a decimal-formatted
    * string like "4.00" long-casts to NULL (invisible to stats) while
    * its raw form never matches a numeric probe's rendering. */
  private def narrowTypesAlign(tableT: org.apache.spark.sql.types.DataType,
                               probeT: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    def exactNum(dt: DataType): Boolean = dt match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _: DecimalType => true
      case _ => false
    }
    def floatNum(dt: DataType): Boolean =
      dt == FloatType || dt == DoubleType
    tableT == probeT ||
      (exactNum(tableT) && exactNum(probeT)) ||
      (floatNum(tableT) && floatNum(probeT))
  }

  private def discoveryCandidates(spark: SparkSession, rootP: HPath,
                                  probeKeys: DataFrame, key: Seq[String],
                                  mine: Seq[FileEntry],
                                  tableSchema: org.apache.spark.sql.types.StructType): Seq[FileEntry] = {
    // a handful of files is cheaper to scan than to narrow (the probe
    // collection is a Spark job); narrowing exists for tables where the
    // file LIST is the cost
    if (mine.size <= 4) return mine
    key.foldLeft(mine) { (cand, kc) =>
      val aligned = (tableSchema.find(_.name == kc),
        probeKeys.schema.find(_.name == kc)) match {
        case (Some(t), Some(p)) => narrowTypesAlign(t.dataType, p.dataType)
        case _ => false
      }
      if (cand.size <= 4 || !aligned) cand
      else narrowByColumn(spark, rootP, probeKeys, kc, cand)
    }
  }

  /** One key column's narrowing pass over `cand` (see
    * [[discoveryCandidates]]): range containment, then bloom probes under
    * the driver budget — per file, the [[FileSkipping]] tests every
    * filtered read applies. Probe keys render
    * through the same canonical forms the writers inserted
    * ([[canonLongExpr]]/[[bloomLongFormExpr]] — epoch-day for DATE keys,
    * whose plain long cast is an analysis error). */
  private def narrowByColumn(spark: SparkSession, rootP: HPath,
                             probeKeys: DataFrame, kc: String,
                             cand: Seq[FileEntry]): Seq[FileEntry] = {
    val fs = rootP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val statsCover = cand.exists(_.statsFor(kc).isDefined)
    val bloomsPresent = cand.exists(_.bloomFor(kc).isDefined)
    if (!statsCover && !bloomsPresent) return cand
    val probeDt = probeKeys.schema.find(_.name == kc).map(_.dataType)
    // ONE extra job in the common case: collect up to the cap + 1
    // distinct keys — an overflowing take proves the set is unbounded
    // and discovery falls back to the envelope aggregate
    val taken = probeKeys.select(canonLongExpr(kc, probeDt).as("l"),
        col(kc).cast("string").as("s")).distinct()
      .limit(MaxCollectedProbeKeys.toInt + 1).collect()
    val collected: Option[Array[Row]] =
      if (taken.length <= MaxCollectedProbeKeys) Some(taken) else None
    val bloomOf = (p: String) => bloomFilterOf(fs, rootP, p)
    val ranged =
      if (!statsCover) cand
      else collected match {
        case Some(rows) =>
          // exact per-file containment against the sorted key set; an
          // uncastable key (invisible to the stats) keeps every file
          if (rows.exists(_.isNullAt(0))) cand
          else {
            val skip = FileSkipping.AnyPoint(kc, rows.map(_.getLong(0)).sorted)
            cand.filter(skip.keeps(_, bloomOf))
          }
        case None =>
          // overflow path: same uncastable discipline as the collected
          // branch — a probe key the long cast loses (non-numeric
          // string key) contributes nothing to min/max, and an envelope
          // built without it could skip the very file that joins it;
          // one aggregate answers both questions
          val cl = canonLongExpr(kc, probeDt)
          val r = probeKeys.agg(min(cl), max(cl),
            sum(when(col(kc).isNotNull && cl.isNull,
              lit(1L)).otherwise(lit(0L)))).head()
          val anyUncastable = !r.isNullAt(2) && r.getLong(2) > 0L
          if (r.isNullAt(0) || r.isNullAt(1) || anyUncastable) cand
          else cand.filter(FileSkipping.InRange(kc, r.getLong(0), r.getLong(1))
            .keeps(_, bloomOf))
      }
    val bloomable = ranged.count(_.bloomFor(kc).isDefined)
    collected match {
      // driver budget: each skippable file pays up to |probes| filter
      // tests — past the budget the bloom pass would stall the driver,
      // so it is skipped (sound: skipping the NARROWING keeps files)
      case Some(rows) if bloomable > 0 &&
          bloomable.toLong * rows.length * 2 <= MaxBloomProbeWork =>
        // probe BOTH canonical forms, mirroring statsBloomPass's double
        // insertion: a probe key arriving type-coerced (DOUBLE source
        // against a LONG table renders "4.0") must still hit the
        // long-form entry — a single-form probe is a guaranteed false
        // negative there, i.e. a silently never-rewritten matched row
        val probes = rows.flatMap { r =>
          val s = if (r.isNullAt(1)) None
            else Some(r.getString(1).getBytes(StandardCharsets.UTF_8))
          val l = if (r.isNullAt(0)) None
            else Some(String.valueOf(r.getLong(0))
              .getBytes(StandardCharsets.UTF_8))
          (s.toSeq ++ l.filterNot(lb => s.exists(java.util.Arrays.equals(_, lb))))
        }
        ranged.filter(FileSkipping.AnyKey(kc, probes.toSeq).keeps(_, bloomOf))
      case _ => ranged
    }
  }

  /** Partition a table's manifest entries into (filesContainingAnyKey,
    * untouchedFiles) — the copy-on-write affected-set discovery shared
    * by [[mergeInto]] and [[transactionalMerge]]. The semi-join scan
    * reads only [[discoveryCandidates]] (manifest-stats + bloom
    * narrowed); files outside the candidate set are untouched by
    * construction. `input_file_name()` is attached SCAN-SIDE (a
    * projection below the join): evaluated above a non-broadcast join
    * it returns the empty string — with a sort-merge-joined probe side
    * every file would silently look unaffected and matched rows would
    * never be rewritten. The fail-loud guard rejects an empty file
    * name if a plan change ever reintroduces that. */
  private def affectedByKeys(spark: SparkSession, rootP: HPath,
                             version: Long, probeKeys: DataFrame,
                             key: Seq[String], mine: Seq[FileEntry],
                             tableSchema: org.apache.spark.sql.types.StructType): (Seq[FileEntry], Seq[FileEntry]) = {
    val cand = discoveryCandidates(spark, rootP, probeKeys, key, mine,
      tableSchema)
    recordDiscoveryStats(rootP, mine.headOption.fold("")(_.table),
      DiscoveryStats(cand.size.toLong, mine.size.toLong))
    if (cand.isEmpty) return (Nil, mine)
    val affectedFiles = scan(spark, rootP, version, cand)
      .withColumn("__f", input_file_name())
      .join(probeKeys, key, "left_semi")
      .select(col("__f")).distinct()
      .collect().map(_.getString(0)).toSet
    require(!affectedFiles.contains(""),
      "affectedByKeys: input_file_name evaluated above the join " +
        "(empty file name) — affected-file discovery would be corrupt")
    val (aff, keepCand) = partitionAffected(rootP, cand, affectedFiles)
    val candSet = cand.map(_.relPath).toSet
    (aff, keepCand ++ mine.filterNot(e => candSet.contains(e.relPath)))
  }

  /** O(A+M) affected/untouched split of manifest entries against a
    * collected set of `input_file_name()` strings. Both sides normalize
    * to the DECODED URI path component (`Path.toUri.getPath` strips
    * scheme/authority and percent-encoding), so `file:/x` vs `file:///x`
    * vs encoded forms all meet in one HashSet probe — the previous
    * per-entry `exists(_.endsWith(relPath))` scan was O(A×M) pure
    * driver CPU, quadratic in table size on the per-micro-batch CDC
    * merge path. Fail-loud: every collected file was read FROM this
    * entry list, so each must normalize onto exactly one entry — a
    * count mismatch means the normalization lost a file and a matched
    * row would silently never be rewritten. */
  private def partitionAffected(rootP: HPath, mine: Seq[FileEntry],
                                affectedFiles: Set[String])
      : (Seq[FileEntry], Seq[FileEntry]) = {
    // input_file_name() returns the URL-ENCODED URI string (Spark's
    // PartitionedFile path form): parse as URI so "%20" decodes to the
    // space the manifest side (Hadoop Path semantics) carries raw — a
    // Path round-trip would keep the literal "%20" and every merge on a
    // space-containing root would abort on the count tripwire below
    def normalizeScan(f: String): String =
      try {
        val p = new java.net.URI(f).getPath
        if (p != null && p.nonEmpty) p else new HPath(f).toUri.getPath
      } catch {
        case _: java.net.URISyntaxException => new HPath(f).toUri.getPath
      }
    val affectedNorm: Set[String] = affectedFiles.map(normalizeScan)
    val split = mine.partition(e =>
      affectedNorm.contains(new HPath(rootP, e.relPath).toUri.getPath))
    require(split._1.size == affectedFiles.size,
      s"partitionAffected: ${affectedFiles.size} affected files matched " +
        s"only ${split._1.size} manifest entries — path normalization " +
        "lost a file; refusing to merge with a corrupt affected set")
    split
  }

  /** The copy-on-write rewrite core shared by [[mergeInto]] and
    * [[transactionalMerge]] (one body, so a fix to the anti-join /
    * footer-only rule can never apply to one merge path and not the
    * other): rows of the AFFECTED files whose key matches a
    * `touchedKeys` row are dropped, `inserts` rows (if any) are
    * appended, and the result is written under the
    * [[writeDataNonEmptyOr]] discipline. `inserts = None` is a pure
    * delete-shaped rewrite (its columns may not match the table's —
    * the transactionalMerge empty-upserts contract). */
  private def rewriteAffected(spark: SparkSession, rootP: HPath,
                              fs: FileSystem, version: Long, table: String,
                              aff: Seq[FileEntry], touchedKeys: DataFrame,
                              key: Seq[String], inserts: Option[DataFrame],
                              keepSchemaIfEmpty: Boolean,
                              statsCol: Option[String],
                              bloomCol: Option[String],
                              extraBloomCols: Seq[String] = Nil,
                              extraStatsCols: Seq[String] = Nil): Seq[FileEntry] = {
    val keepRows =
      if (aff.isEmpty) touchedKeys.where(lit(false)) // only with inserts
      else scan(spark, rootP, version, aff).join(touchedKeys, key, "left_anti")
    val newRows = inserts match {
      case None => keepRows
      case Some(ins) =>
        if (aff.isEmpty) ins
        else keepRows.select(ins.columns.map(col): _*).unionByName(ins)
    }
    writeDataNonEmptyOr(spark, rootP, fs, table, newRows, statsCol,
      bloomCol, keepSchemaIfEmpty, extraBloomCols, extraStatsCols)
  }

  /** Targeted deletion by KEY SET — the right-to-be-forgotten fast
    * path: where [[deleteWhere]] must scan the whole table to find
    * files matching an arbitrary predicate, a key-set delete goes
    * through [[discoveryCandidates]] (manifest min/max + per-file key
    * blooms), so discovery reads O(candidate files) and the rewrite
    * touches only files that actually contain a forgotten key. One
    * atomic commit; pre-delete versions stay readable until retention
    * drops them (the audit trail). Rebase-on-conflict like the rest of
    * the merge family. Returns (filesRewritten, rowsDeleted). */
  def deleteByKeys(spark: SparkSession, root: String, table: String,
                   keys: DataFrame, key: Seq[String],
                   statsCol: Option[String] = None,
                   bloomCol: Option[String] = None,
                   maxRetries: Int = 3,
                   extraBloomCols: Seq[String] = Nil,
                   extraStatsCols: Seq[String] = Nil): (Long, Long) = {
    require(key.nonEmpty, "deleteByKeys: empty key")
    retryOnConflict(maxRetries) {
      deleteByKeysOnce(spark, root, table, keys, key, statsCol, bloomCol,
        extraBloomCols, extraStatsCols)
    }
  }

  private def deleteByKeysOnce(spark: SparkSession, root: String,
                               table: String, keys: DataFrame,
                               key: Seq[String], statsCol: Option[String],
                               bloomCol: Option[String],
                               extraBloomCols: Seq[String],
                               extraStatsCols: Seq[String]): (Long, Long) = {
    val (fs, rootP) = fsFor(spark, root)
    val cur = current(spark, root).getOrElse(
      throw new IllegalArgumentException(s"no committed table under $root"))
    val mine = entriesOf(Some(cur), table)
    require(mine.nonEmpty, s"no table '$table' under $root")
    // cut: the key set feeds discovery, the row count, and the rewrite
    val ks = graft.operators.Lineage.cut(
      keys.select(key.map(col): _*).distinct())
    val (aff, keep) = affectedByKeys(spark, rootP, cur.version, ks, key,
      mine, schemaOf(spark, rootP, mine.head))
    if (aff.isEmpty) return (0L, 0L)
    val newEntries = rewriteAffected(spark, rootP, fs, cur.version, table,
      aff, ks, key, inserts = None, keepSchemaIfEmpty = keep.isEmpty, statsCol,
      bloomCol, extraBloomCols, extraStatsCols)
    // deleted-row count by manifest arithmetic — affected footer rows
    // minus survivor rows the rewrite just recorded — instead of a
    // separate semi-join count pass over the affected files
    val nDel = rowsOf(aff) - rowsOf(newEntries)
    commitOrRebase(spark, fs, rootP, root, Some(cur),
      carriedOf = _.filterNot(_.table == table),
      added = keep ++ newEntries,
      reusableUnder = tableUnchanged(Some(cur), table),
      freshEntries = newEntries)
    (aff.size.toLong, nDel)
  }

  /** REPLACE-BY-KEY at file granularity for MULTI-ROW keys: every
    * existing row whose key matches a `newRows` key OR a `dropKeys` key
    * is dropped, `newRows` appends, all in ONE atomic commit — the
    * "overwrite these keys' row-SETS" primitive ([[mergeInto]] cannot
    * express it: its replace is row-for-row, so it rejects duplicate
    * source keys, while a k-NN index repairing the edge LISTS of
    * affected sources has `degree` rows per key on both sides).
    * Discovery narrows through [[discoveryCandidates]] (per-file key
    * stats + blooms), so only files actually holding a touched key are
    * rewritten; everything else carries byte-identical. Rebase-on-
    * conflict like the rest of the merge family. Returns
    * (filesRewritten, rowsDropped). */
  def replaceByKeys(spark: SparkSession, root: String, table: String,
                    newRows: DataFrame, key: Seq[String],
                    dropKeys: DataFrame,
                    statsCol: Option[String] = None,
                    bloomCol: Option[String] = None,
                    maxRetries: Int = 3,
                    extraBloomCols: Seq[String] = Nil,
                    extraStatsCols: Seq[String] = Nil): (Long, Long) = {
    require(key.nonEmpty, "replaceByKeys: empty key")
    retryOnConflict(maxRetries) {
      replaceByKeysOnce(spark, root, table, newRows, key, dropKeys,
        statsCol, bloomCol, extraBloomCols, extraStatsCols)
    }
  }

  private def replaceByKeysOnce(spark: SparkSession, root: String,
                                table: String, newRows: DataFrame,
                                key: Seq[String], dropKeys: DataFrame,
                                statsCol: Option[String],
                                bloomCol: Option[String],
                                extraBloomCols: Seq[String],
                                extraStatsCols: Seq[String]): (Long, Long) = {
    val (fs, rootP) = fsFor(spark, root)
    val cur = current(spark, root).getOrElse(
      throw new IllegalArgumentException(s"no committed table under $root"))
    val mine = entriesOf(Some(cur), table)
    require(mine.nonEmpty, s"no table '$table' under $root")
    val schema = schemaOf(spark, rootP, mine.head)
    require(newRows.columns.toSet == schema.fieldNames.toSet,
      s"replaceByKeys: newRows columns ${newRows.columns.toSeq} must " +
        s"match table columns ${schema.fieldNames.toSeq}")
    require(key.forall(dropKeys.columns.contains),
      s"replaceByKeys: dropKeys must carry the key columns $key " +
        s"(got ${dropKeys.columns.toSeq})")
    // cut: the new rows feed the touched-key set AND the rewrite union
    val nr = graft.operators.Lineage.cut(
      newRows.select(schema.fieldNames.map(col): _*))
    val touched = graft.operators.Lineage.cut(
      nr.select(key.map(col): _*)
        .unionByName(dropKeys.select(key.map(col): _*)).distinct())
    val (aff, keep) = affectedByKeys(spark, rootP, cur.version, touched,
      key, mine, schema)
    val newEntries = rewriteAffected(spark, rootP, fs, cur.version, table,
      aff, touched, key, inserts = Some(nr), keepSchemaIfEmpty = keep.isEmpty, statsCol,
      bloomCol, extraBloomCols, extraStatsCols)
    // dropped-row count by manifest arithmetic: the rewrite wrote
    // (affected survivors + nr), so dropped = affected footer rows +
    // |nr| − written rows — |nr| is a count over the already-
    // materialized cut, far cheaper than a semi-join pass over the
    // affected parquet
    val nDropped =
      if (aff.isEmpty) 0L else rowsOf(aff) + nr.count() - rowsOf(newEntries)
    commitOrRebase(spark, fs, rootP, root, Some(cur),
      carriedOf = _.filterNot(_.table == table),
      added = keep ++ newEntries,
      reusableUnder = tableUnchanged(Some(cur), table),
      freshEntries = newEntries)
    (aff.size.toLong, nDropped)
  }

  /** MERGE (upsert) by key at FILE granularity — the storage-level
    * sibling of [[graft.operators.ChangeDataCapture.mergeUpsert]] (which
    * merges frames, leaving persistence to the caller): existing rows
    * whose key matches a `source` row are REPLACED by it, unmatched
    * source rows are INSERTED, and only files that actually CONTAIN a
    * matched key are rewritten — every other file carries into the new
    * version byte-identical, not even re-read at commit time (manifest
    * stats bound the affected set for stats-correlated keys). The whole
    * merge is ONE atomic commit; readers of prior versions are
    * untouched. At 100 TB this is the difference between upserting 0.1%
    * of rows and rewriting the table.
    *
    * `source` must carry exactly the table's columns and UNIQUE keys
    * (a duplicate-key source makes "replace" ambiguous — rejected
    * loudly, one aggregation). The source is lineage-cut first: it is
    * read twice (match + write) and a lazy non-deterministic frame
    * could otherwise write rows the match never saw. Returns
    * (filesRewritten, rowsUpdated, rowsInserted). */
  def mergeInto(spark: SparkSession, root: String, table: String,
                source: DataFrame, key: Seq[String],
                statsCol: Option[String] = None,
                bloomCol: Option[String] = None,
                maxRetries: Int = 3,
                extraStatsCols: Seq[String] = Nil): (Long, Long, Long) = {
    retryOnConflict(maxRetries) {
      mergeIntoOnce(spark, root, table, source, key, statsCol, bloomCol,
        extraStatsCols)
    }
  }

  private def mergeIntoOnce(spark: SparkSession, root: String, table: String,
                source: DataFrame, key: Seq[String],
                statsCol: Option[String],
                bloomCol: Option[String],
                extraStatsCols: Seq[String]): (Long, Long, Long) = {
    require(key.nonEmpty, "mergeInto: empty key")
    val (fs, rootP) = fsFor(spark, root)
    val cur = current(spark, root).getOrElse(
      throw new IllegalArgumentException(s"no committed table under $root"))
    val mine = entriesOf(Some(cur), table)
    require(mine.nonEmpty, s"no table '$table' under $root")
    val schema = schemaOf(spark, rootP, mine.head)
    require(source.columns.toSet == schema.fieldNames.toSet,
      s"mergeInto: source columns ${source.columns.toSeq} must match " +
        s"table columns ${schema.fieldNames.toSeq}")
    val src = graft.operators.Lineage.cut(
      source.select(schema.fieldNames.map(col): _*))
    // row count and duplicate-key guard in ONE aggregation job (formerly
    // count() + distinct().count() — two passes over the source)
    val (nSrc, nSrcKeys) = {
      val r = src.groupBy(key.map(col): _*).agg(count(lit(1)).as("__c"))
        .agg(coalesce(sum(col("__c")), lit(0L)), count(lit(1))).head()
      (r.getLong(0), r.getLong(1))
    }
    if (nSrc == 0L) return (0L, 0L, 0L)
    require(nSrcKeys == nSrc,
      "mergeInto: duplicate keys in source make the replace ambiguous")
    val srcKeys = src.select(key.map(col): _*)
    val (aff, keep) = affectedByKeys(spark, rootP, cur.version, srcKeys,
      key, mine, schema)
    val (nUpdated, nMatchedKeys) =
      if (aff.isEmpty) (0L, 0L)
      else {
        // one key-pruned pass over the affected files answers both
        // counts (formerly two semi-join count jobs): matched table
        // rows = Σ per-key counts, matched source keys = the group
        // count (source keys are unique by the guard above)
        val r = scan(spark, rootP, cur.version, aff).select(key.map(col): _*)
          .join(srcKeys, key, "left_semi")
          .groupBy(key.map(col): _*).agg(count(lit(1)).as("__c"))
          .agg(coalesce(sum(col("__c")), lit(0L)), count(lit(1))).head()
        (r.getLong(0), r.getLong(1))
      }
    val newEntries = rewriteAffected(spark, rootP, fs, cur.version, table,
      aff, srcKeys, key, Some(src), keepSchemaIfEmpty = keep.isEmpty, statsCol, bloomCol,
      extraStatsCols = extraStatsCols)
    commitOrRebase(spark, fs, rootP, root, Some(cur),
      carriedOf = _.filterNot(_.table == table),
      added = keep ++ newEntries,
      reusableUnder = tableUnchanged(Some(cur), table),
      freshEntries = newEntries)
    (aff.size.toLong, nUpdated, nSrc - nMatchedKeys)
  }

  /** Small-file compaction: rewrite the table into
    * ceil(bytes/targetFileBytes) files as a NEW version. Readers of the
    * old version are unaffected (old files stay until vacuum) —
    * compaction is a background operation, not an outage. Returns
    * (filesBefore, filesAfter). */
  def compact(spark: SparkSession, root: String, table: String,
              targetFileBytes: Long = 128L * 1024 * 1024,
              statsCol: Option[String] = None,
              bloomCol: Option[String] = None,
              extraBloomCols: Seq[String] = Nil,
              extraStatsCols: Seq[String] = Nil): (Long, Long) = {
    val (fs, rootP) = fsFor(spark, root)
    val cur = current(spark, root).getOrElse(
      throw new IllegalArgumentException(s"no committed table under $root"))
    val mine = entriesOf(Some(cur), table)
    require(mine.nonEmpty, s"no table '$table' under $root")
    val bytes = tableBytes(mine)
    val nFiles = math.max(1L, (bytes + targetFileBytes - 1) / targetFileBytes).toInt
    val df = toDf(spark, rootP, cur.version, cur.entries, table)
    val re = statsCol match {
      // cluster on the stats column so compacted files keep tight
      // min/max ranges (file skipping survives compaction)
      case Some(c) => df.repartitionByRange(nFiles, col(c)).sortWithinPartitions(col(c))
      case None => df.repartition(nFiles)
    }
    // bloom/stats columns so compaction does not STRIP the table's
    // per-file coverage (merge discovery and filtered reads consume it)
    val newEntries = writeData(spark, rootP, fs, table, re, statsCol,
      bloomCol, extraStatsCols = extraStatsCols,
      extraBloomCols = extraBloomCols)
    writeCommit(fs, rootP, cur.version + 1L,
      cur.entries.filterNot(_.table == table) ++ newEntries,
      parent = Some(cur.entries))
    (mine.size.toLong, newEntries.size.toLong)
  }

  /** Sum of a table's file sizes from the manifest's write-time byte
    * sizes — zero FS calls ([[parseV2]] rejects a data entry without). */
  private def tableBytes(mine: Seq[FileEntry]): Long =
    mine.map(e => e.bytes.getOrElse(sys.error(
      s"data entry without a byte size: ${e.relPath}"))).sum

  /** Adaptive defrag for streaming maintainers ([[graft.streaming.CdcApply]],
    * [[graft.streaming.CorpusIngest]]): compacts `table` only when its
    * manifest holds at least `minFiles` files AND at least twice the
    * table's post-compaction ideal (ceil(bytes / targetFileBytes)) —
    * without the second test, a table that has grown to legitimately
    * NEED `minFiles` files would cross an absolute threshold forever
    * and every micro-batch would rewrite the whole table. The sizing
    * reads the manifest's write-time byte sizes — a steady-state-large
    * table (≥ minFiles files forever, the normal shape of any big
    * CDC-maintained table) pays ZERO per-file FS stats per micro-batch
    * ([[tableBytes]]).
    * A lost compaction commit CAS is swallowed, not retried:
    * maintenance is optional, the next trigger re-fires, and it must
    * never kill a stream whose batch data already committed. Returns
    * Some((filesBefore, filesAfter)) when a compaction ran. */
  def compactIfFragmented(spark: SparkSession, root: String, table: String,
                          minFiles: Int,
                          targetFileBytes: Long = 128L * 1024 * 1024,
                          statsCol: Option[String] = None,
                          bloomCol: Option[String] = None,
                          extraBloomCols: Seq[String] = Nil,
                          extraStatsCols: Seq[String] = Nil): Option[(Long, Long)] = {
    require(minFiles >= 1, "minFiles >= 1")
    val mine = entriesOf(current(spark, root), table)
    if (mine.size < minFiles) return None
    val bytes = tableBytes(mine)
    val ideal = math.max(1L, (bytes + targetFileBytes - 1) / targetFileBytes)
    if (mine.size < 2L * ideal) return None // the table NEEDS these files
    try Some(compact(spark, root, table, targetFileBytes, statsCol, bloomCol,
      extraBloomCols, extraStatsCols))
    catch { case _: CommitConflictException => None }
  }

  /** Reserved pseudo-table carrying transaction watermarks inside commit
    * files. Entries under it reference no data file; [[toDf]] filters by
    * table name so readers never see them, and [[vacuum]] only deletes
    * files that EXIST under data dirs, so markers are inert there too. */
  private val TxnTable = "_txn"

  /** Does `c` hold a `_txn` watermark for `marker` at or past `batchId`
    * (a replay of an applied batch)? */
  private def watermarked(c: Commit, marker: String, batchId: Long): Boolean =
    c.entries.exists(e => e.table == TxnTable && e.relPath == marker &&
      e.min.exists(_ >= batchId))

  /** A writer id is one path segment of a `_txn` marker. */
  private def requireWriterId(writerId: String): Unit =
    require(!writerId.contains("\t") && !writerId.contains("\n") &&
      !writerId.contains("/"), s"illegal writerId: $writerId")

  /** Exactly-once append for at-least-once writers (Structured Streaming
    * `foreachBatch`, retried orchestration steps): the commit that adds
    * the batch's data files ALSO records `(writerId, batchId)` as a
    * transaction watermark, so the data and the "already applied" fact
    * become visible in the same atomic commit-file PUT — the idempotence
    * ledger cannot diverge from the data (the failure mode of keeping a
    * separate applied-ids store). A replay of batchId <= the recorded
    * watermark is a no-op returning false.
    *
    * Batch ids must be monotonically increasing per writer (Structured
    * Streaming's contract), so ONE watermark entry per (writer, table)
    * suffices — commit files do not grow with stream lifetime. Unlike
    * [[appendNew]] no key columns are needed: aggregates and other
    * non-keyed outputs get exactly-once too. Empty batches return true
    * without creating a version (re-running them is harmless).
    *
    * The exactly-once guarantee inherits [[writeCommit]]'s exclusion:
    * on HDFS/file: a racing duplicate replay loses the fixed-name
    * rename, re-resolves, sees the watermark, and no-ops; on object
    * stores without exclusive rename it additionally requires the
    * module-level single-writer-or-lock-service deployment contract. */
  def transactionalAppend(spark: SparkSession, root: String, table: String,
                          df: DataFrame, writerId: String, batchId: Long,
                          statsCol: Option[String] = None): Boolean = {
    requireWriterId(writerId)
    val (fs, rootP) = fsFor(spark, root)
    fs.mkdirs(rootP)
    val cur = current(spark, root)
    val markerPath = s"$writerId/$table"
    if (cur.exists(watermarked(_, markerPath, batchId))) return false
    // write FIRST, count from the written footers, drop the dir when
    // empty — one execution of `df` (the appendNew discipline); the
    // empty batch still returns true without creating a version
    val written = writeData(spark, rootP, fs, table, df, statsCol)
    val writtenDir = new HPath(rootP, written.head.relPath).getParent
    if (rowsOf(written) == 0L) {
      fs.delete(writtenDir, true)
      return true
    }
    val newEntries = written
    val carried = cur.map(_.entries.filterNot(e =>
      e.table == TxnTable && e.relPath == markerPath)).getOrElse(Nil)
    writeCommit(fs, rootP, cur.fold(1L)(_.version + 1L),
      carried ++ newEntries :+
        FileEntry(TxnTable, markerPath, Some(batchId), Some(batchId)),
      parent = cur.map(_.entries))
    true
  }

  /** Has `writerId` already applied `batchId` (to any table) via
    * [[transactionalAppendAll]]? One manifest resolve — the O(1)
    * replay probe for foreachBatch writers, checked BEFORE computing
    * the batch. */
  def batchApplied(spark: SparkSession, root: String, writerId: String,
                   batchId: Long): Boolean =
    current(spark, root).exists(watermarked(_, s"$writerId/__txn", batchId))

  /** The per-table twin of [[batchApplied]] for
    * [[transactionalAppend]]/[[transactionalMerge]] writers (their
    * watermark rides `<writerId>/<table>`). */
  def tableBatchApplied(spark: SparkSession, root: String, table: String,
                        writerId: String, batchId: Long): Boolean =
    current(spark, root).exists(watermarked(_, s"$writerId/$table", batchId))

  /** Exactly-once CDC apply — [[mergeInto]] plus a delete set plus the
    * `(writerId, batchId)` watermark, all in ONE commit: existing rows
    * matching an upsert key are replaced, rows matching a delete key
    * vanish, unmatched upserts insert, and only files containing a
    * touched key are rewritten (every other file carries
    * byte-identical). A replay of batchId <= the watermark no-ops
    * before reading the batch; a batch that changes nothing writes no
    * version (re-running it is harmless, the [[transactionalAppend]]
    * empty-batch contract). A missing table bootstraps from the
    * upserts, so a CDC stream needs no separate initialization step.
    * Upsert keys must be unique within the batch (collapse the change
    * log first — [[graft.operators.ChangeDataCapture.applyChangeLog]]).
    * Returns false iff the batch was already applied. */
  def transactionalMerge(spark: SparkSession, root: String, table: String,
                         upserts: DataFrame, deleteKeys: DataFrame,
                         key: Seq[String], writerId: String, batchId: Long,
                         statsCol: Option[String] = None,
                         fkChecks: Seq[(String, Seq[String], String, Seq[String])] = Nil,
                         bloomCol: Option[String] = None,
                         maxRetries: Int = 3,
                         extraStatsCols: Seq[String] = Nil): Boolean = {
    retryOnConflict(maxRetries) {
      transactionalMergeOnce(spark, root, table, upserts, deleteKeys, key,
        writerId, batchId, statsCol, fkChecks, bloomCol, extraStatsCols)
    }
  }

  private def transactionalMergeOnce(spark: SparkSession, root: String,
                         table: String,
                         upserts: DataFrame, deleteKeys: DataFrame,
                         key: Seq[String], writerId: String, batchId: Long,
                         statsCol: Option[String],
                         fkChecks: Seq[(String, Seq[String], String, Seq[String])],
                         bloomCol: Option[String],
                         extraStatsCols: Seq[String]): Boolean = {
    require(key.nonEmpty, "transactionalMerge: empty key")
    requireWriterId(writerId)
    val (fs, rootP) = fsFor(spark, root)
    fs.mkdirs(rootP)
    val cur = current(spark, root)
    val markerPath = s"$writerId/$table"
    if (cur.exists(watermarked(_, markerPath, batchId))) return false
    val up = graft.operators.Lineage.cut(upserts)
    // row count and duplicate-key guard in ONE aggregation job (formerly
    // count() + distinct().count() — two passes over the batch)
    val (nUp, nUpKeys) = {
      val r = up.groupBy(key.map(col): _*).agg(count(lit(1)).as("__c"))
        .agg(coalesce(sum(col("__c")), lit(0L)), count(lit(1))).head()
      (r.getLong(0), r.getLong(1))
    }
    require(nUpKeys == nUp,
      "transactionalMerge: duplicate upsert keys — collapse the change " +
        "log first (applyChangeLog)")
    // FK integrity on the INCOMING rows only (batch-proportional — the
    // standing table was checked when it landed): each relation
    // anti-joins the upserts' non-null child keys against the CURRENT
    // parent table under this root; an orphan aborts the batch before
    // any write, the reference's FK-rejecting load semantics on the
    // CDC path. fkChecks = (name, childCols, parentTable, parentCols).
    val fkFailures = fkChecks.flatMap { case (cname, cc, pt, pc) =>
      val child = up.select(cc.map(col): _*).na.drop("any")
      val parent = read(spark, root, pt).select(pc.zip(cc).map {
        case (p, c) => col(p).as(c) }: _*)
      val orphans = child.join(parent, cc, "left_anti").count()
      if (orphans > 0L) Some(s"$cname ($orphans orphaned upserts)") else None
    }
    if (fkFailures.nonEmpty)
      throw new IllegalStateException(
        s"transactionalMerge: FK violations — batch $batchId not " +
          s"applied: ${fkFailures.mkString("; ")}")
    // delete keys resolve BY NAME — a positional mapping would silently
    // mis-key deletes for a caller whose frame orders columns differently
    require(key.forall(deleteKeys.columns.contains),
      s"transactionalMerge: deleteKeys must carry the key columns $key " +
        s"(got ${deleteKeys.columns.toSeq})")
    val del = graft.operators.Lineage.cut(
      deleteKeys.select(key.map(col): _*))
    val exists = cur.exists(_.entries.exists(_.table == table))
    def commit(dropped: Seq[FileEntry], added: Seq[FileEntry]): Boolean = {
      val droppedSet = dropped.toSet
      // reuse bar for the file-reusing rebase: the interleaved commit
      // must have left our table AND every FK parent we validated
      // against exactly as planned — anything else re-runs the attempt
      def reusable(nc: Commit): Boolean =
        tableUnchanged(cur, table)(nc) &&
          fkChecks.forall { case (_, _, pt, _) => tableUnchanged(cur, pt)(nc) }
      commitOrRebase(spark, fs, rootP, root, cur,
        carriedOf = _.filterNot(e => droppedSet.contains(e) ||
          (e.table == TxnTable && e.relPath == markerPath)),
        added = added :+
          FileEntry(TxnTable, markerPath, Some(batchId), Some(batchId)),
        reusableUnder = reusable,
        alreadyAppliedUnder = watermarked(_, markerPath, batchId),
        freshEntries = added) match {
        case Committed(_) => true
        case AlreadyApplied => false
      }
    }
    if (!exists) {
      if (nUp == 0L) return true // nothing to create; replay harmless
      return commit(Nil,
        writeData(spark, rootP, fs, table, up, statsCol, bloomCol,
          extraStatsCols = extraStatsCols))
    }
    val mine = entriesOf(cur, table)
    val schema = schemaOf(spark, rootP, mine.head)
    require(up.columns.toSet == schema.fieldNames.toSet || nUp == 0L,
      s"transactionalMerge: upsert columns ${up.columns.toSeq} must " +
        s"match table columns ${schema.fieldNames.toSeq}")
    // cut: touched feeds the discovery collect, the semi-join scan, and
    // the rewrite anti-join — without it each consumer re-runs the
    // distinct shuffle
    val touched = graft.operators.Lineage.cut(
      up.select(key.map(col): _*).unionByName(del).distinct())
    val (aff, keep) = affectedByKeys(spark, rootP, cur.get.version,
      touched, key, mine, schema)
    if (aff.isEmpty && nUp == 0L) return true // no-change batch
    val newEntries = rewriteAffected(spark, rootP, fs, cur.get.version,
      table, aff, touched, key, if (nUp == 0L) None else Some(up),
      keepSchemaIfEmpty = keep.isEmpty, statsCol, bloomCol,
      extraStatsCols = extraStatsCols)
    commit(aff, newEntries)
  }

  /** [[transactionalAppend]] for a MULTI-SINK batch: every table's new
    * files and the `(writerId, batchId)` watermark land in ONE commit —
    * the whole batch is a single transaction, so there is no ordering
    * among sinks to crash between and no per-sink idempotence guard to
    * re-derive on replay (sinks that commit separately need begin/commit
    * markers and an expensive crashed-replay path). A crash before the commit
    * leaves only orphan data files (invisible to readers, reclaimed by
    * [[vacuum]]); the replay recomputes and commits whole.
    *
    * Empty frames: a table whose batch contribution is empty writes one
    * footer-only file ONLY when the table does not exist yet (schema
    * establishment — the deleteWhere readability idiom); otherwise it
    * is carried untouched, so long streams do not accumulate empty
    * files. Returns false iff `batchId` was already applied. */
  def transactionalAppendAll(spark: SparkSession, root: String,
                             tables: Map[String, DataFrame],
                             writerId: String, batchId: Long,
                             statsCols: Map[String, String] = Map.empty,
                             maxRetries: Int = 3,
                             bloomCols: Map[String, String] = Map.empty): Boolean = {
    retryOnConflict(maxRetries) {
      transactionalAppendAllOnce(spark, root, tables, writerId, batchId,
        statsCols, bloomCols)
    }
  }

  private def transactionalAppendAllOnce(spark: SparkSession, root: String,
                             tables: Map[String, DataFrame],
                             writerId: String, batchId: Long,
                             statsCols: Map[String, String],
                             bloomCols: Map[String, String]): Boolean = {
    require(tables.nonEmpty, "transactionalAppendAll: no tables")
    requireWriterId(writerId)
    val (fs, rootP) = fsFor(spark, root)
    fs.mkdirs(rootP)
    val cur = current(spark, root)
    val markerPath = s"$writerId/__txn"
    if (cur.exists(watermarked(_, markerPath, batchId))) return false
    val newEntries = graft.Overlap.map(tables.toSeq.sortBy(_._1)) { case (name, df) =>
      val exists = cur.exists(_.entries.exists(_.table == name))
      // one execution + footer-only-if-new: an empty contribution to a
      // brand-new table establishes its schema; to an existing table it
      // contributes nothing (long streams do not accumulate empty files)
      writeDataNonEmptyOr(spark, rootP, fs, name, df, statsCols.get(name),
        bloomCol = bloomCols.get(name), keepSchemaIfEmpty = !exists)
    }.flatten
    // reuse bar: appends drop nothing, so an interleaved commit is only
    // disqualifying when it touched one of OUR tables (it could have
    // established a schema we also establish, or appended rows a keyed
    // consumer of this batch compared against)
    commitOrRebase(spark, fs, rootP, root, cur,
      carriedOf = _.filterNot(e =>
        e.table == TxnTable && e.relPath == markerPath),
      added = newEntries :+
        FileEntry(TxnTable, markerPath, Some(batchId), Some(batchId)),
      reusableUnder = nc => tables.keysIterator.forall(t =>
        tableUnchanged(cur, t)(nc)),
      alreadyAppliedUnder = watermarked(_, markerPath, batchId),
      freshEntries = newEntries) match {
      case Committed(_) => true
      case AlreadyApplied => false
    }
  }

  // ----------------------------------------- commit-log compaction / vacuum

  /** Bound the commit log WITHOUT touching data: delete all but the
    * `keepVersions` newest commit files, after first landing a
    * LOAD-BEARING `k-` checkpoint of the oldest kept version so the
    * delta chain under every survivor stays resolvable (commits are
    * deltas now; a retained delta whose base vanished would be
    * unreadable). Dropping old commits loses only time travel to them —
    * the current version, its data files, and every retained version are
    * untouched, so this is safe to run WHILE writers commit and readers
    * plan (unlike [[vacuum]], which deletes data files and needs a quiet
    * window). The periodic hygiene call for long-lived CDC / streaming
    * sinks: without it a per-batch committer accumulates one `_commits`
    * object per batch forever; with it the log stays `keepVersions`-sized
    * (plus one checkpoint) and hint-less resolve (the listing path)
    * stays cheap too. Orphaned DATA files of dropped versions remain
    * until [[vacuum]]. Returns the number of commit files removed. */
  def compactLog(spark: SparkSession, root: String, keepVersions: Int = 1): Long = {
    require(keepVersions >= 1, "compactLog must keep at least the current version")
    val (fs, rootP) = fsFor(spark, root)
    val cd = new HPath(rootP, CommitDir)
    if (!fs.exists(cd)) return 0L
    val commits = fs.listStatus(cd).map(_.getPath.getName)
      .filter(n => CommitName.pattern.matcher(n).matches()).sorted
    val (drop, keep) = commits.splitAt(math.max(0, commits.length - keepVersions))
    if (drop.isEmpty) return 0L
    // delta-chain safety: the oldest KEPT version must stay resolvable
    // after its ancestors vanish, so a LOAD-BEARING `k-` checkpoint of
    // it is written first (idempotent; resolved while the full chain
    // still exists). Only then can every older c-file — and every now
    // obsolete k-file — go.
    keep.headOption.foreach { n =>
      val CommitName(seq) = n
      writeCheckpoint(fs, cd, seq.toLong, resolveEntries(fs, cd, seq.toLong))
      require(fs.exists(new HPath(cd, checkpointName(seq.toLong))),
        s"compactLog: checkpoint for $n did not land; refusing to drop " +
          "its delta chain")
    }
    drop.foreach(n => fs.delete(new HPath(cd, n), false))
    val keptMin = keep.headOption.map { case CommitName(seq) => seq.toLong }
    fs.listStatus(cd).map(_.getPath.getName)
      .filter(_.startsWith("k-"))
      .foreach { kn =>
        val seq = kn.stripPrefix("k-").stripSuffix(".txt").toLong
        if (keptMin.exists(seq < _)) fs.delete(new HPath(cd, kn), false)
      }
    drop.length.toLong
  }

  // ----------------------------------------------------------------- vacuum

  /** Garbage-collect: delete data files not referenced by any of the
    * `keepVersions` most recent commits, then the superseded commit
    * files themselves, then emptied data dirs. The ONLY place data files
    * are ever deleted — and it never touches the current version, so a
    * reader planning from any retained commit stays consistent. Returns
    * the number of files deleted.
    *
    * Do not run vacuum concurrently with an in-flight write: data files
    * of a not-yet-committed version look unreferenced and would be
    * collected (production deployments add an age threshold; here the
    * contract is vacuum-in-a-quiet-window). */
  def vacuum(spark: SparkSession, root: String, keepVersions: Int = 1,
             minAgeMs: Long = 0L): Long = {
    require(keepVersions >= 1, "vacuum must keep at least the current version")
    require(minAgeMs >= 0L, "minAgeMs must be >= 0")
    val (fs, rootP) = fsFor(spark, root)
    val cd = new HPath(rootP, CommitDir)
    if (!fs.exists(cd)) return 0L
    val commits = fs.listStatus(cd).map(_.getPath.getName)
      .filter(n => CommitName.pattern.matcher(n).matches()).sorted
    if (commits.isEmpty) return 0L
    val (drop, keep) = commits.splitAt(math.max(0, commits.length - keepVersions))
    // the in-flight-write guard: a not-yet-committed version's data
    // files look unreferenced; with minAgeMs > 0 anything younger than
    // the horizon survives, so vacuum no longer needs a quiet window —
    // set it beyond the longest plausible write duration. The horizon
    // derives from the STORAGE's own clock (the mtime of a probe file
    // written just now), not the driver's: on object stores / NFS the
    // two can skew, and a driver clock running fast would reclaim an
    // in-flight write's files that storage stamped "younger" than they
    // look from here. With minAgeMs == 0 the caller accepted the
    // quiet-window contract and no probe is paid.
    val horizon =
      (if (minAgeMs == 0L) System.currentTimeMillis()
       else storageNow(fs, cd)) - minAgeMs
    // superseded commits young enough to survive this pass's age guard
    // must keep their DATA too: a retained commit whose files were
    // reclaimed would resolve (entriesAt / version-pinned reads) and
    // then crash mid-scan — worse than the clean "not retained" error
    val (dropNow, dropRetained) =
      if (minAgeMs == 0L) (drop.toSeq, Seq.empty[String])
      else drop.toSeq.partition(n =>
        fs.getFileStatus(new HPath(cd, n)).getModificationTime < horizon)
    // referenced = every data file of a retained version's RESOLVED
    // state PLUS every bloom pack its entries point into — packs are
    // reclaimed exactly like data files, only when no retained
    // version needs them. Resolution happens BEFORE any deletion, while
    // the full delta chain still exists.
    val retainedNames = (dropRetained ++ keep.toSeq).sorted
    val referenced: Set[String] = retainedNames.flatMap { n =>
      val CommitName(seq) = n
      resolveEntries(fs, cd, seq.toLong).flatMap(e =>
        // a pointer's referenced OBJECT is the pack before its fragment
        e.relPath +: (e.bloom.toSeq ++ e.blooms2).map(_._2
          .stripPrefix(PointerMark).takeWhile(_ != '#')))
    }.toSet
    // delta-chain safety before dropping ancestors: checkpoint the
    // oldest RETAINED version (same rule as compactLog)
    if (dropNow.nonEmpty) retainedNames.headOption.foreach { n =>
      val CommitName(seq) = n
      writeCheckpoint(fs, cd, seq.toLong, resolveEntries(fs, cd, seq.toLong))
      require(fs.exists(new HPath(cd, checkpointName(seq.toLong))),
        s"vacuum: checkpoint for $n did not land; refusing to drop " +
          "its delta chain")
    }
    var deleted = 0L
    // data dirs are every top-level entry except _commits
    fs.listStatus(rootP).filter(s => s.isDirectory && s.getPath.getName != CommitDir)
      .foreach { tdir =>
        val it = fs.listFiles(tdir.getPath, true)
        val toDelete = scala.collection.mutable.ListBuffer.empty[HPath]
        while (it.hasNext) {
          val f = it.next()
          val name = f.getPath.getName
          val rel = s"${tdir.getPath.getName}/${f.getPath.getParent.getName}/$name"
          if ((name.endsWith(".parquet") || name.endsWith(".bloom"))
              && !referenced.contains(rel)
              && (minAgeMs == 0L || f.getModificationTime < horizon)) {
            toDelete += f.getPath
            if (name.endsWith(".bloom"))
              bloomPackCache.remove(fs.makeQualified(f.getPath).toString)
          }
        }
        toDelete.foreach { p => fs.delete(p, false); deleted += 1 }
        // prune emptied d-<uuid> / _blooms dirs (and Spark's _SUCCESS
        // markers)
        fs.listStatus(tdir.getPath).filter(_.isDirectory).foreach { d =>
          val kids = fs.listStatus(d.getPath)
          if (kids.forall(k => !k.getPath.getName.endsWith(".parquet") &&
              !k.getPath.getName.endsWith(".bloom"))) {
            fs.delete(d.getPath, true)
            val gone = fs.makeQualified(d.getPath).toString
            schemaCache.removeIf(_._1 == gone)
          }
        }
      }
    // superseded commit files get the same age guard (computed above,
    // data kept in step): a reader that planned from an old version
    // moments ago may still be streaming its file list; a young
    // superseded commit AND its data survive until the next pass
    dropNow.foreach(n => fs.delete(new HPath(cd, n), false))
    // k-files older than the oldest surviving commit serve nothing
    val survivorMin = retainedNames.headOption
      .map { case CommitName(seq) => seq.toLong }
    fs.listStatus(cd).map(_.getPath.getName).filter(_.startsWith("k-"))
      .foreach { kn =>
        val seq = kn.stripPrefix("k-").stripSuffix(".txt").toLong
        if (survivorMin.exists(seq < _)) fs.delete(new HPath(cd, kn), false)
      }
    deleted
  }

  /** The storage system's notion of "now": the mtime it stamps on a
    * probe file written this instant — immune to driver/storage clock
    * skew, one tiny PUT+HEAD+DELETE. The probe lives in `_commits`
    * under a dotted name every commit-file matcher ignores. */
  private def storageNow(fs: FileSystem, commitDir: HPath): Long = {
    val probe = new HPath(commitDir, s".vacuum-probe-${uuid()}")
    fs.create(probe, true).close()
    try fs.getFileStatus(probe).getModificationTime
    finally fs.delete(probe, false)
  }
}
