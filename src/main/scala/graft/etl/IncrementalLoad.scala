package graft.etl

import java.nio.file.{Files, Path}

import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.util.control.NonFatal

/** Idempotent / transactional load operators (SURVEY.md §2.1 S4/S5, §2.7 T1,
  * §7 step 5).
  *
  * Reference: `load_data_conditionally` (main.py:45-59) reads existing PKs,
  * anti-filters in memory, appends the remainder — idempotent by re-run
  * (README.md:102). Multi-table atomicity comes from one DB transaction
  * (main.py:173-195).
  *
  * Spark-native replacements:
  *  - J2/S4 `appendNew`: left-anti join against the target's key column and
  *    append. The anti-join broadcasts when the existing-keys side is small;
  *    at 100 TB the keys projection is a single-column parquet scan (column
  *    pruning) — never the full table.
  *  - S5 `writePartitioned`: year-partitioned parquet, the analog of the
  *    reference's RANGE LEFT yearly filegroups (sql:83-90) — gives partition
  *    pruning on date predicates for free.
  *  - T1 `atomicPublish`: write every table of a load to a staging dir, then
  *    atomically swap into place only if ALL succeeded. Strictly stronger
  *    than the reference's rollback: a partial failure leaves the published
  *    tree untouched, and every load is re-runnable.
  *
  * All staging/swap I/O goes through the Hadoop `FileSystem` API resolved
  * from the TARGET path, so the same code runs on `file:` in tests and on
  * HDFS on a cluster, and staging dirs live beside the target (same
  * filesystem), never in driver-local temp. CAVEAT — object stores: on
  * S3-like stores `rename` is copy+delete, not atomic; the swap there is
  * not crash-atomic (the backup/restore protocol still prevents data loss,
  * but a concurrent reader can observe a mid-swap tree). For object-store
  * deployments use [[ManifestTable]]: immutable data files + one
  * commit-file pointer, atomic with no directory rename at all, covering
  * the same operator surface (publish/appendNew/deleteWhere/compact).
  */
object IncrementalLoad {

  /** Filesystem of `p` (from the path's scheme, e.g. file:/HDFS) plus the
    * fully-qualified path. */
  private[graft] def fsFor(spark: SparkSession, p: String): (FileSystem, HPath) = {
    val hp = new HPath(p)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    (fs, fs.makeQualified(hp))
  }

  /** Hadoop rename reports failure by returning false — surface it. */
  private def mv(fs: FileSystem, src: HPath, dst: HPath, what: String): Unit =
    if (!fs.rename(src, dst))
      throw new java.io.IOException(s"$what: rename failed: $src -> $dst")

  /** J2+S4: rows of `incoming` whose `key` is not yet in the target.
    * The existing keys need no distinct: an anti-join keeps or drops a
    * row the same way whatever the multiplicity of its match. */
  def newRowsOnly(incoming: DataFrame, existingKeys: DataFrame,
                  key: Seq[String]): DataFrame =
    incoming.join(existingKeys.select(key.map(col): _*), key, "left_anti")

  /** Idempotent append: anti-join vs the target's current keys, then append.
    * Re-running with the same input appends 0 rows (reference invariant 1,
    * SURVEY.md §5).
    *
    * The fresh rows are fully materialized to a staging parquet BEFORE the
    * append: the anti-join reads targetPath, so appending from the live
    * plan would re-scan the target mid-write if any partition were
    * recomputed (cache-block loss / task retry) — staging makes
    * read-then-append safe regardless of recomputation. */
  def appendNew(spark: SparkSession, incoming: DataFrame, targetPath: String,
                key: Seq[String]): Long = {
    val (fs, target) = fsFor(spark, targetPath)
    val fresh =
      if (fs.exists(target)) {
        val existing = spark.read.parquet(targetPath)
        newRowsOnly(incoming, existing, key)
      } else incoming
    // staging lives BESIDE the target on the target's own filesystem —
    // a driver-local temp dir is the wrong filesystem on a real cluster
    val parent = Option(target.getParent).getOrElse(target)
    val stage = new HPath(parent, s".append-staging-${System.nanoTime()}")
    try {
      fresh.write.mode("overwrite").parquet(stage.toString)
      val staged = spark.read.parquet(stage.toString)
      val n = staged.count()
      if (n > 0) staged.write.mode("append").parquet(targetPath)
      n
    } finally fs.delete(stage, true)
  }

  /** S5: fact sink partitioned by year of `dateCol` (partition column `anio`),
    * mirroring ps_FechaRango (sql:104,122,138). */
  def writePartitioned(df: DataFrame, dateCol: String, path: String): Unit =
    df.withColumn("anio", year(col(dateCol)))
      .write.mode("overwrite").partitionBy("anio").parquet(path)

  /** T1: all-or-nothing multi-table publish. Writes each frame under
    * `root/.staging-<epoch>/<table>`; only when every write succeeded are
    * the current tables moved aside to a backup dir and the staged ones
    * renamed into place. A failure during the write phase leaves the
    * published tree untouched; a failure mid-swap restores the moved-aside
    * tables from backup — the previous state is never deleted until every
    * rename has succeeded. */
  def atomicPublish(root: String, tables: Map[String, DataFrame]): Unit = {
    require(tables.nonEmpty, "atomicPublish: no tables to publish")
    val spark = tables.head._2.sparkSession
    val (fs, rootP) = fsFor(spark, root)
    fs.mkdirs(rootP)
    val tag = System.nanoTime()
    val staging = new HPath(rootP, s".staging-$tag")
    val backup = new HPath(rootP, s".backup-$tag")
    var rolledBack = true
    try {
      tables.foreach { case (name, df) =>
        // Fact frames carry the derived `anio` year column (S5): publish
        // them partitioned so date predicates prune on the final layout.
        val w = df.write.mode("overwrite")
        (if (df.columns.contains("anio")) w.partitionBy("anio") else w)
          .parquet(new HPath(staging, name).toString)
      }
      // Full-success barrier reached: swap via backup so every pre-publish
      // table survives until all renames are done. Rollback must undo BOTH
      // kinds of progress: restore moved-aside tables AND remove staged
      // tables already renamed in (else a publish adding a new table plus
      // failing on an old one leaves a mixed tree).
      fs.mkdirs(backup)
      val movedAside = scala.collection.mutable.ListBuffer.empty[String]
      val swappedIn = scala.collection.mutable.ListBuffer.empty[String]
      try {
        tables.keys.foreach { name =>
          val target = new HPath(rootP, name)
          if (fs.exists(target)) {
            mv(fs, target, new HPath(backup, name), "move-aside")
            movedAside += name
          }
          mv(fs, new HPath(staging, name), target, "swap-in")
          swappedIn += name
        }
      } catch {
        case NonFatal(e) =>
          rolledBack = false
          swappedIn.foreach(name => fs.delete(new HPath(rootP, name), true))
          movedAside.foreach { name =>
            mv(fs, new HPath(backup, name), new HPath(rootP, name), "restore")
          }
          rolledBack = true // every restore move succeeded
          throw e
      }
    } finally {
      fs.delete(staging, true)
      // Keep the backup if a rollback itself failed mid-restore — it holds
      // the only copy of not-yet-restored previous tables.
      if (rolledBack) fs.delete(backup, true)
      else System.err.println(s"[atomicPublish] rollback incomplete; " +
        s"previous table versions preserved under $backup")
    }
  }

  /** Bucketed managed table: pre-shuffles once at write time so every
    * later equi-join/aggregation on `bucketCols` is exchange-free — the
    * Spark analog of co-located storage. At 100 TB, bucketing the big fact
    * on its join key removes the dominant repeated shuffle from the
    * workload (pay it once at ingest). */
  /** Small-file compaction: rewrite a parquet table into
    * ceil(bytes / targetFileBytes) files and atomically swap it into
    * place (stage + rename through the target's filesystem — readers
    * never observe a partial rewrite). The operational counterpart of
    * `appendNew`: every incremental append adds files, and at 100 TB an
    * uncompacted table turns scans into a small-file metadata storm.
    * Returns (filesBefore, filesAfter). */
  def compact(spark: SparkSession, path: String,
              targetFileBytes: Long = 128L * 1024 * 1024): (Long, Long) = {
    val (fs, target) = fsFor(spark, path)
    require(fs.exists(target), s"compact: no table at $path")
    def parquetFiles(p: HPath): Seq[org.apache.hadoop.fs.FileStatus] = {
      val it = fs.listFiles(p, true)
      val buf = scala.collection.mutable.ListBuffer.empty[org.apache.hadoop.fs.FileStatus]
      while (it.hasNext) {
        val f = it.next()
        if (f.getPath.getName.endsWith(".parquet")) buf += f
      }
      buf.toSeq
    }
    val before = parquetFiles(target)
    val totalBytes = before.map(_.getLen).sum
    val nFiles = math.max(1L, (totalBytes + targetFileBytes - 1) / targetFileBytes).toInt
    // Hive-style partition columns must survive the rewrite: re-derive
    // them from the `col=value` directory names and re-apply partitionBy,
    // or a partitioned table would silently flatten and lose pruning.
    val partCols: Seq[String] = partitionColumns(fs, target)
    val parent = Option(target.getParent).getOrElse(target)
    val stage = new HPath(parent, s".compact-staging-${System.nanoTime()}")
    val old = new HPath(parent, s".compact-old-${System.nanoTime()}")
    try {
      val df = spark.read.parquet(path)
      // partitioned tables cluster on the partition columns so each
      // partition dir compacts to coherent files instead of nFiles shards
      val re = if (partCols.nonEmpty) df.repartition(nFiles, partCols.map(col): _*)
               else df.repartition(nFiles)
      val w = re.write.mode("overwrite")
      (if (partCols.nonEmpty) w.partitionBy(partCols: _*) else w)
        .parquet(stage.toString)
      val after = parquetFiles(stage).length.toLong
      mv(fs, target, old, "compact move-aside")
      try mv(fs, stage, target, "compact swap-in")
      catch { case NonFatal(e) => mv(fs, old, target, "compact restore"); throw e }
      fs.delete(old, true)
      (before.length.toLong, after)
    } finally fs.delete(stage, true)
  }

  /** Hive partition columns of a table directory, outermost first, read
    * from the `col=value` directory names. */
  private def partitionColumns(fs: FileSystem, target: HPath): Seq[String] = {
    def dirsOf(p: HPath): Seq[String] = fs.listStatus(p).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.contains("="))
      .map(_.getPath.getName.takeWhile(_ != '='))
    var cols = Vector.empty[String]
    var cur = target
    var level = dirsOf(cur)
    while (level.nonEmpty) {
      cols :+= level.head
      cur = fs.listStatus(cur).toSeq
        .find(s => s.isDirectory && s.getPath.getName.contains("=")).get.getPath
      level = dirsOf(cur)
    }
    cols
  }

  /** Targeted row deletion (the right-to-be-forgotten / bad-batch-purge
    * operation) with PARTITION-PRUNED rewrite: only partitions that
    * actually contain matching rows are rewritten and atomically
    * swapped; every other partition keeps its files byte-identical —
    * at 100 TB the cost is proportional to the AFFECTED partitions, not
    * the table. A partition whose rows are all deleted is removed
    * outright. Unpartitioned tables fall back to one full stage+swap
    * rewrite.
    *
    * The predicate may reference partition columns (they are re-added
    * as literals per partition before filtering). Returns
    * (partitions_rewritten, rows_deleted).
    *
    * Same swap discipline as [[compact]]/[[atomicPublish]]: stage,
    * move-aside, swap-in, restore on failure — on a filesystem with
    * atomic rename (file:/HDFS; object stores need a committer).
    *
    * Failure window: each affected partition swaps independently, so a
    * write failure mid-loop leaves earlier partitions deleted and later
    * ones untouched — a PARTIAL cross-partition delete (each individual
    * partition is still all-or-nothing). Escape-needing partition values
    * (space, '=', '#', …) are supported via Hive path escaping — the same
    * encoding the writer used — and NULL/empty values (Hive default-
    * partition dirs) are refused up front so that class of failure cannot
    * strike mid-loop; for crash-consistent multi-partition deletes use
    * the manifest-committed table variant. If the
    * predicate empties every partition, a readable empty table (one
    * parquet footer carrying the full partition-columns-included schema)
    * is left at the root so the next read does not fail schema
    * inference. */
  def deleteWhere(spark: SparkSession, path: String,
                  predicate: org.apache.spark.sql.Column): (Long, Long) = {
    val (fs, target) = fsFor(spark, path)
    require(fs.exists(target), s"deleteWhere: no table at $path")
    val partCols = partitionColumns(fs, target)
    val parent = Option(target.getParent).getOrElse(target)

    def swapIn(dest: HPath, write: HPath => Unit, keepAny: Boolean): Unit = {
      val stage = new HPath(parent, s".delete-staging-${System.nanoTime()}")
      val old = new HPath(parent, s".delete-old-${System.nanoTime()}")
      try {
        if (keepAny) write(stage)
        mv(fs, dest, old, "deleteWhere move-aside")
        if (keepAny) {
          try mv(fs, stage, dest, "deleteWhere swap-in")
          catch { case NonFatal(e) =>
            mv(fs, old, dest, "deleteWhere restore"); throw e }
        }
        fs.delete(old, true)
      } finally fs.delete(stage, true)
    }

    // Three-valued logic matters in a DELETE: a NULL predicate must mean
    // KEEP (SQL DELETE semantics), never silent loss — filter(!p) alone
    // would drop NULL-predicate rows without counting them.
    val delCond = coalesce(predicate, lit(false))

    if (partCols.isEmpty) {
      val df = spark.read.parquet(path).persist()
      try {
        val nDel = df.filter(delCond).count()
        if (nDel == 0) return (0L, 0L)
        val keep = df.filter(!delCond)
        val keepAny = !keep.isEmpty
        swapIn(target, p => keep.write.parquet(p.toString), keepAny)
        // a readable empty table, not a bare directory (parquet needs at
        // least one footer to infer the schema on the next read)
        if (!keepAny)
          spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            df.schema).repartition(1).write.parquet(target.toString)
        (1L, nDel)
      } finally df.unpersist()
    } else {
      val df = spark.read.parquet(path)
      val affected = df.filter(delCond)
        .select(partCols.map(col): _*).distinct().collect()
      // Validate EVERY affected partition directory up front — a
      // mid-loop failure would leave a partial delete. Escape-needing
      // values (space, '=', '#', ':', …) go through Spark's own
      // ExternalCatalogUtils.escapePathName — the exact Hive encoding the
      // partitioned writer used for the dir names, so reconstruction
      // cannot drift from what is on disk. NULL and empty-string values
      // land in __HIVE_DEFAULT_PARTITION__ and read back as NULL, which
      // would silently change the rows a re-read predicate sees: fail
      // fast BEFORE any swap rather than corrupt after some.
      val dirs = affected.map { row =>
        partCols.zipWithIndex.map { case (c, i) =>
          val v = row.get(i)
          require(v != null && v.toString.nonEmpty,
            s"deleteWhere: NULL/empty partition value for '$c' " +
              "(Hive default-partition dirs are not supported)")
          s"$c=${org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
            .escapePathName(v.toString)}"
        }.mkString("/")
      }
      dirs.foreach { d =>
        require(fs.exists(new HPath(target, d)),
          s"deleteWhere: expected partition dir $d not found under $path")
      }
      val fullSchema = df.schema
      var deleted = 0L
      affected.zip(dirs).foreach { case (row, dir) =>
        val pdir = new HPath(target, dir)
        // one disk scan per partition: cache, then count/filter/write
        // from the cached frame
        val pdf = spark.read.parquet(pdir.toString).persist()
        try {
          // partition values live in the dir name, not the files: re-add
          // them as literals so the predicate can reference them
          val withParts = partCols.zipWithIndex.foldLeft(pdf: DataFrame) {
            case (d, (c, i)) => d.withColumn(c, lit(row.get(i)))
          }
          deleted += withParts.filter(delCond).count()
          val keep = withParts.filter(!delCond).drop(partCols: _*)
          val keepAny = !keep.isEmpty
          swapIn(pdir, p => keep.write.parquet(p.toString), keepAny)
          // multi-level partitions: removing a=1/b=2 can leave an empty
          // intermediate a=1 shell — prune upward to the table root
          if (!keepAny) {
            var up = pdir.getParent
            while (up != null && up != target && fs.exists(up)
              && fs.listStatus(up).isEmpty) {
              fs.delete(up, false); up = up.getParent
            }
          }
        } finally pdf.unpersist()
      }
      // if the delete emptied EVERY partition, the root has no parquet
      // footers and the next read fails schema inference — leave a
      // readable empty table with the full (partition-cols-included)
      // schema, mirroring the unpartitioned branch
      val anyLeft = fs.listStatus(target).exists(s =>
        s.isDirectory && s.getPath.getName.contains("="))
      if (!anyLeft)
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], fullSchema)
          .repartition(1).write.mode("overwrite").parquet(target.toString)
      (affected.length.toLong, deleted)
    }
  }

  def writeBucketed(df: DataFrame, table: String, bucketCols: Seq[String],
                    nBuckets: Int, sortCols: Seq[String] = Nil): Unit = {
    val w = df.write.mode("overwrite")
      .bucketBy(nBuckets, bucketCols.head, bucketCols.tail: _*)
    (if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*) else w)
      .format("parquet").saveAsTable(table)
  }

  /** Shared recursive delete (also used by Verify's stale-output sweep). */
  private[graft] def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(f => Files.deleteIfExists(f))
      finally s.close()
    }
}
