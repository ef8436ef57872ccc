package graft.etl

import java.nio.file.{Files, Path}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Load helpers shared by the table writers (SURVEY.md §2.1 S4, §7 step 5).
  *
  * Reference: `load_data_conditionally` (main.py:45-59) reads existing PKs,
  * anti-filters in memory, appends the remainder — idempotent by re-run
  * (README.md:102). Multi-table atomicity comes from one DB transaction
  * (main.py:173-195).
  *
  * Tables are written through [[ManifestTable]]: immutable data files
  * made visible by one commit file, so publish, append, delete and
  * compaction are all-or-nothing with no directory rename. This object
  * keeps the key anti-join those writers share, Spark's bucketed managed
  * tables, and a local recursive delete.
  */
object IncrementalLoad {

  /** J2+S4: rows of `incoming` whose `key` is not yet in the target.
    * The existing keys need no distinct: an anti-join keeps or drops a
    * row the same way whatever the multiplicity of its match. */
  def newRowsOnly(incoming: DataFrame, existingKeys: DataFrame,
                  key: Seq[String]): DataFrame =
    incoming.join(existingKeys.select(key.map(col): _*), key, "left_anti")

  /** Bucketed managed table: pre-shuffles once at write time so every
    * later equi-join/aggregation on `bucketCols` is exchange-free — the
    * Spark analog of co-located storage. At 100 TB, bucketing the big fact
    * on its join key removes the dominant repeated shuffle from the
    * workload (pay it once at ingest). */
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
