package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Parquet table loading for the harness star schema (TESTDATA.md).
  *
  * At 100 TB these reads become multi-thousand-file partitioned scans;
  * everything downstream therefore treats the returned DataFrame as a lazy,
  * partition-pruned, column-pruned scan — never materialized driver-side.
  */
object Tables {
  val All: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Small dimension tables, always broadcast-joined (SURVEY.md §2.4 J1). */
  val SmallDims: Set[String] = Set("region", "nation", "part", "supplier")

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = spark.read.parquet(s"$dir/$name.parquet")
    // Nano-timestamp columns (events.ts) arrive as long when
    // `nanosAsLong` is set (Spark has no ns timestamp type). Normalize to
    // microsecond timestamps with exact integer division — `/ 1000` via
    // double would lose precision above 2^53 ns.
    df.schema.fields.find(f => f.name == "ts" && f.dataType == org.apache.spark.sql.types.LongType)
      .map(_ => df.withColumn("ts", org.apache.spark.sql.functions.timestamp_micros(
        org.apache.spark.sql.functions.expr("ts div 1000"))))
      .getOrElse(df)
  }

  /** Input-parallelism guard for compute-heavy per-row stages (guide
    * §2.5 "input skew"): when the upstream scan yields fewer partitions
    * than the session's cores (locally: one small parquet file = ONE
    * task carrying an expensive expression while every other core
    * idles; at scale: one huge unsplittable input), hash-repartition by
    * `key` up to `defaultParallelism` so the per-row work spreads.
    * A scan that is already at least core-wide passes through UNTOUCHED
    * — at 100 TB the multi-thousand-split scans never re-shuffle, so
    * this cannot collapse cluster parallelism. Keyed (not round-robin)
    * repartitioning avoids the sort-before-repartition pass over the
    * heavy payload column and is retry-deterministic. Results are
    * unchanged: callers' downstream logic is row-local or key-grouped.
    */
  def fanOut(df: DataFrame, key: org.apache.spark.sql.Column): DataFrame = {
    val want = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions >= want) df
    else df.repartition(want, key)
  }

  /** Session tuning shared by Verify / Bench / tests.
    *
    * - ANSI off: the reference's `errors='coerce'` semantics (SURVEY.md §1.2,
    *   main.py:38-41,98) require cast-failure -> null, not exception. Query
    *   code additionally uses try_cast/try_to_timestamp so the semantics do
    *   not depend on this flag.
    * - AQE on: runtime coalescing + skew-join splitting is the 100 TB story
    *   for shuffle sizing; locally it also trims empty partitions.
    */
  def tune(b: SparkSession.Builder): SparkSession.Builder = b
    // custom Catalyst expressions as SQL functions (shingles/minhash_sig/
    // simhash) — the documented SparkSessionExtensions path
    .withExtensions(new GraftExtensions)
    .config("spark.sql.ansi.enabled", "false")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
    // parallelismFirst stays at its default (true): the "production"
    // advice of coalescing to advisory size measured ~20% SLOWER here
    // (56s vs 46s bench total) — local[32] with sub-second shuffles wants
    // idle-core parallelism, not fewer bigger tasks.
    .config("spark.sql.adaptive.skewJoin.enabled", "true")
    .config("spark.sql.session.timeZone", "UTC")
    // testdata parquet stores naive (isAdjustedToUTC=false) microsecond
    // timestamps; read them as TIMESTAMP (UTC session) rather than
    // TIMESTAMP_NTZ so unix_micros / watermarks / interval arithmetic keep
    // working and values match DuckDB's naive-timestamp reading
    .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    // reliable checkpoints (Dedup.cut with spark.graft.checkpoint.dir):
    // let the ContextCleaner delete superseded iteration checkpoints once
    // their RDDs are GC'd — iterative clusters() would otherwise
    // accumulate one checkpoint per label-propagation round
    .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
    .config("spark.sql.parquet.compression.codec", "snappy")
    .config("spark.sql.autoBroadcastJoinThreshold", (64L << 20).toString)
    // generated-class cache (static, JVM-wide; default 100): one checked
    // opinion pass (OpinionPipeline.runChecked on the RefShaped fixture)
    // generates 242 distinct classes, so the default LRU evicted each
    // class before its next use and every pass recompiled ~330 of them
    // in Janino (PublishCheckedSpec counts them). 2000 leaves headroom
    // for a session that runs several pipelines.
    .config("spark.sql.codegen.cache.maxEntries", "2000")
    // the SQL status store keeps each execution's plan string and
    // metrics (default 1000 executions); nothing here reads it, and
    // trimming it offsets the driver heap the class cache above retains
    .config("spark.sql.ui.retainedExecutions", "50")
}
