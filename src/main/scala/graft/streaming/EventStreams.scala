package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.etl.ManifestTable

/** Event-stream processing (SURVEY.md §2.9, §7 step 6).
  *
  * The reference's incremental-load pattern ("process only rows not yet in
  * the target", main.py:45-59) is batch micro-batching by hand; its
  * Structured Streaming analog is a file-source stream + foreachBatch
  * idempotent merge — implemented here, plus the windowed aggregations any
  * event pipeline needs.
  *
  * Scale notes: windowed aggs shuffle on (window, key) — bounded state via
  * watermark; sessionize is a single shuffle on user_id then a sorted
  * window scan, the standard gap-sessionization plan (no self-join).
  */
object EventStreams {

  /** Batch tumbling-hour aggregation (oracle-checked as q50). */
  def hourlyAgg(events: DataFrame): DataFrame =
    events.groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))

  /** Sliding-window aggregation: overlapping windows of `duration` every
    * `slide` (each event lands in duration/slide windows). Spark's
    * `window()` generates the copies scan-side (a narrow expand, never a
    * shuffled fan-out), then one hash shuffle on (window, type) — the
    * same plan streaming uses with a watermark (oracle-checked q111 in
    * batch form; the tumbling/session forms are q50/q53). */
  def slidingAgg(events: DataFrame, duration: String, slide: String): DataFrame =
    events.groupBy(window(col("ts"), duration, slide), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("sum_value"))

  /** Gap-based sessionization: a new session starts after `gapMinutes` of
    * user inactivity. Returns per-user session stats (oracle-checked q51). */
  def sessionize(events: DataFrame, gapMinutes: Int): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
    val gapUs = gapMinutes.toLong * 60L * 1000000L
    val prev = lag(col("ts"), 1).over(byUser)
    val isNew = when(prev.isNull ||
      (unix_micros(col("ts")) - unix_micros(prev)) > gapUs, 1).otherwise(0)
    val runningW = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events
      .withColumn("session_id", sum(isNew).over(runningW))
      .groupBy(col("user_id"))
      .agg(max(col("session_id")).as("n_sessions"),
        count(lit(1)).as("n_events"),
        round(sum(col("value")), 2).as("sum_value"))
  }

  /** File-source stream over a parquet directory (schema must be supplied:
    * streaming sources cannot infer). */
  def readEventStream(spark: SparkSession, dir: String, schema: StructType): DataFrame =
    spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(dir)

  /** Session-window aggregation via the built-in `session_window` (gap
    * closes the session): the streaming-native form of `sessionize`. With
    * a watermark the state store evicts closed sessions; in batch it
    * computes the same gap sessions in one pass. One shuffle on
    * (session_window, user). */
  def sessionWindowAgg(events: DataFrame, gap: String,
                       watermark: Option[String] = None): DataFrame = {
    val src = watermark.fold(events)(events.withWatermark("ts", _))
    src.groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("sum_value"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("user_id"), col("n_events"), col("sum_value"))
  }

  /** Streaming exact dedup: drop duplicate keys while the watermark bounds
    * the dedup state — the streaming form of the exact-dedup operator. At
    * 100 TB/day the state holds only one entry per key seen within the
    * watermark horizon, instead of growing forever (the failure mode of
    * unwatermarked dropDuplicates). */
  def streamingDedup(stream: DataFrame, idCols: Seq[String],
                     watermark: String, timeCol: String = "ts"): DataFrame =
    stream.withWatermark(timeCol, watermark)
      .dropDuplicatesWithinWatermark(idCols)

  /** Sliding-window counts with watermark — bounded state, late data beyond
    * the watermark dropped deterministically. */
  def windowedCounts(stream: DataFrame, windowLen: String, slide: String,
                     watermark: String): DataFrame =
    stream.withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen, slide), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))

  /** Watermarked stream-stream interval join: each `click` event pairs
    * with the same user's `view` events from the preceding `lookback`
    * window — the canonical streaming enrichment (attribution, funnel
    * stitching). Works identically on batch frames (watermarks are no-ops
    * there), so the spec cross-checks streaming output against the batch
    * plan.
    *
    * Scale/state: BOTH sides carry a watermark and the join predicate
    * bounds view_ts to [click_ts - lookback, click_ts), so Spark evicts
    * buffered rows once the watermark passes their join horizon — state
    * is lookback-bounded per key, not unbounded (the failure mode of an
    * uncontrolled stream-stream join). One shuffle per side on user_id. */
  def clickViewJoin(clicks: DataFrame, views: DataFrame,
                    watermark: String, lookback: String): DataFrame = {
    val c = clicks
      .select(col("user_id"), col("event_id").as("click_id"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", watermark)
    val v = views
      .select(col("user_id").as("view_user"), col("event_id").as("view_id"),
        col("ts").as("view_ts"), col("value").as("view_value"))
      .withWatermark("view_ts", watermark)
    c.join(v,
        col("user_id") === col("view_user") &&
          col("view_ts") >= col("click_ts") - expr(s"INTERVAL $lookback") &&
          col("view_ts") < col("click_ts"))
      .select(col("user_id"), col("click_id"), col("view_id"),
        col("click_ts"), col("view_ts"), col("view_value"))
  }

  /** Idempotent streaming sink: every micro-batch lands via
    * [[ManifestTable.appendNew]], a left-anti join against the table's
    * committed keys — exactly-once effect on top of at-least-once
    * delivery, the streaming form of the reference's
    * load_data_conditionally. Keyed on the rows, not the batch id, so a
    * redelivered batch appends only keys the table lacks, whatever id
    * the replay carries. */
  def idempotentParquetSink(stream: DataFrame, root: String, table: String,
                            checkpoint: String, key: Seq[String]): DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        ManifestTable.appendNew(batch.sparkSession, root, table, batch, key)
        ()
      }

  /** Exactly-once streaming sink into a manifest-committed table: each
    * micro-batch lands via [[ManifestTable.transactionalAppend]], which
    * records the batch id as a transaction watermark IN the same atomic
    * commit as the data. After a crash between sink write and checkpoint
    * acknowledgment, Structured Streaming replays the batch; the
    * watermark makes the replay a no-op — exactly-once effect without
    * key columns, on object stores, for any batch shape (including
    * aggregates the anti-join sink can't deduplicate). */
  def exactlyOnceManifestSink(stream: DataFrame, root: String, table: String,
                              checkpoint: String, writerId: String,
                              statsCol: Option[String] = None): DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        ManifestTable.transactionalAppend(batch.sparkSession, root, table,
          batch, writerId, batchId, statsCol)
        ()
      }

  /** Streaming READ of a manifest-committed table — the exactly-once
    * sink's reader twin. A table "changes" exactly when a commit file
    * appears in `_commits`, so the stream IS a text file-source over that
    * directory: Spark's file source contributes exactly-once discovery,
    * checkpointed offsets, and crash replay of commit FILES for free, and
    * `deliverCommittedBatches` turns each discovered commit into the data
    * it added — resolved against the PREDECESSOR version, read as a batch
    * DataFrame, and handed to `f(rows, version)` in version order.
    *
    * Semantics (the append feed):
    *  - a reader's FIRST version (the oldest retained commit) delivers
    *    the full table state at that version — the initial snapshot;
    *  - every later version delivers exactly the rows in files it ADDED
    *    for `table`;
    *  - versions that REMOVE any of the table's files (compact,
    *    deleteWhere rewrites) deliver nothing — they add no rows, so
    *    compaction is invisible downstream, same as it is to batch
    *    readers. The feed is for append-maintained tables (appendNew /
    *    transactionalAppend); a rewrite that both dropped and added NEW
    *    rows in one commit would be skipped, which no writer here does.
    *
    * Crash/replay: after a failure between delivery and checkpoint
    * acknowledgment the file source re-delivers the commit file, so `f`
    * sees the same (rows, version) again — pair it with
    * [[ManifestTable.transactionalAppend]] keyed by `version` as the
    * batch id and the replay is absorbed, giving exactly-once END TO END
    * across two manifest tables.
    *
    * Retention contract: commit files must outlive the slowest reader
    * ([[ManifestTable.compactLog]]/vacuum no faster than consumption) —
    * a gap in retained versions mid-stream fails loudly rather than
    * guessing (the same retention rule Delta documents for CDF reads).
    * Scale: per trigger this moves commit METADATA (KBs) to the driver —
    * the same cost class as batch plan resolution — and reads only the
    * added data files, never the table. */
  def committedAppendStream(spark: SparkSession, root: String, table: String,
                            checkpoint: String)
                           (f: (DataFrame, Long) => Unit): DataStreamWriter[org.apache.spark.sql.Row] =
    spark.readStream.text(s"$root/_commits")
      .select(input_file_name().as("commit_file"), col("value"))
      .writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (meta: DataFrame, _: Long) =>
        deliverCommittedBatches(meta, root, table, f)
        ()
      }

  /** Resolve one micro-batch of commit-file lines into per-version data
    * deliveries (see [[committedAppendStream]] for the contract). */
  private[graft] def deliverCommittedBatches(meta: DataFrame, root: String,
      table: String, f: (DataFrame, Long) => Unit): Unit = {
    val s = meta.sparkSession
    val rows = meta.collect()
    if (rows.isEmpty) return
    val byVersion: Seq[(Long, ManifestTable.CommitBody)] = rows.toSeq
      .groupBy(_.getString(0)).toSeq
      .flatMap { case (file, rs) =>
        val name = file.split("/").last
        ManifestTable.versionOfName(name).map { v =>
          v -> ManifestTable.parseBodyLines(
            rs.iterator.map(_.getString(1)).filter(_.nonEmpty), name)
        }
      }.sortBy(_._1)
    val inBatch: Map[Long, Seq[ManifestTable.FileEntry]] = byVersion.collect {
      case (v, ManifestTable.Snapshot(es)) => v -> es
    }.toMap
    val versionsInBatch = byVersion.map(_._1).toSet
    def mineOf(es: Seq[ManifestTable.FileEntry]): Seq[ManifestTable.FileEntry] =
      es.filter(_.table == table)
    // each delivery reads its entries through the manifest index: paths,
    // sizes and schema come from the commit, so no listing or inference
    def deliver(v: Long, es: Seq[ManifestTable.FileEntry]): Unit =
      f(ManifestTable.frameOf(s, root, v, table, es.sortBy(_.relPath)), v)
    def headSnapshot(v: Long): Option[Seq[ManifestTable.FileEntry]] =
      // no predecessor anywhere: fine iff v is the stream's head
      // (oldest retained) — that delivery is the initial snapshot
      if (ManifestTable.minRetainedVersion(s, root).contains(v))
        ManifestTable.entriesAt(s, root, v).map(mineOf)
      else None
    byVersion.foreach {
      case (v, d: ManifestTable.DeltaBody) =>
        // a delta names its own adds/removes — no predecessor resolve
        // needed, except at the stream's head, where the delivery is
        // the full resolved snapshot (the compacted-log entry point)
        val removed = d.removes.filter(_._1 == table)
        val added = mineOf(d.upserts)
        headSnapshot(v) match {
          case Some(all) if !versionsInBatch.contains(v - 1L) &&
              ManifestTable.entriesAt(s, root, v - 1L).isEmpty =>
            if (all.nonEmpty) deliver(v, all)
          case _ =>
            if (removed.isEmpty && added.nonEmpty) deliver(v, added)
        }
      case (v, ManifestTable.Snapshot(entries)) =>
        val mine = mineOf(entries)
        val prev: Set[String] =
          if (v == 1L) Set.empty
          else inBatch.get(v - 1L).orElse(ManifestTable.entriesAt(s, root, v - 1L))
            .map(es => mineOf(es).map(_.relPath).toSet)
            .orElse(headSnapshot(v).map(_ => Set.empty[String]))
            .getOrElse(throw new IllegalStateException(
              s"manifest stream: version ${v - 1} of $root no longer " +
                "retained — compactLog/vacuum outran this reader"))
        val added = mine.filterNot(e => prev.contains(e.relPath))
        val removed = prev -- mine.map(_.relPath)
        if (removed.isEmpty && added.nonEmpty) deliver(v, added)
    }
  }

  /** Event row for typed stateful processing. */
  final case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                         event_type: String, value: Double, props: String)

  /** Per-user session accumulator carried across micro-batches. */
  final case class SessionState(sessionStart: Long, lastSeen: Long,
                                nEvents: Long, sumValue: Double)

  /** Closed session emitted when the inactivity gap passes. */
  final case class ClosedSession(user_id: Long, session_start: java.sql.Timestamp,
                                 n_events: Long, sum_value: Double,
                                 duration_sec: Double)

  /** Custom stateful sessionization with flatMapGroupsWithState: sessions
    * close after `gapMinutes` of per-user inactivity and are emitted as
    * they close — arbitrary state the built-in window aggregates can't
    * express (state is one small record per active user, bounded by the
    * event-time timeout). */

  private def closedFrom(userId: Long, s: SessionState) = ClosedSession(userId,
    new java.sql.Timestamp(s.sessionStart), s.nEvents, s.sumValue,
    (s.lastSeen - s.sessionStart) / 1000.0)

  /** The pure per-user session fold, shared by BOTH stateful engines
    * (flatMapGroupsWithState and transformWithState) so their semantics
    * cannot drift: feeds time-ordered events into the open session,
    * closing it whenever the gap passes. Returns (closed-in-order,
    * still-open). */
  private[graft] def advanceSession(gapMs: Long, start: Option[SessionState],
      events: Seq[Event]): (List[SessionState], Option[SessionState]) = {
    var closed = List.empty[SessionState]
    var cur = start
    events.foreach { e =>
      val t = e.ts.getTime
      cur match {
        case Some(s) if t - s.lastSeen > gapMs =>
          closed ::= s
          cur = Some(SessionState(t, t, 1, e.value))
        case Some(s) =>
          // max(): a late-but-above-watermark event from a previous batch
          // must not regress lastSeen (that would re-arm the timeout too
          // early and split later in-gap events into a bogus new session).
          cur = Some(s.copy(lastSeen = math.max(s.lastSeen, t),
            nEvents = s.nEvents + 1, sumValue = s.sumValue + e.value))
        case None =>
          cur = Some(SessionState(t, t, 1, e.value))
      }
    }
    (closed.reverse, cur)
  }

  /** The per-group state transition (exposed for direct unit testing with
    * org.apache.spark.sql.streaming.TestGroupState). */
  private[graft] def sessionUpdate(gapMs: Long)(
      userId: Long, rows: Iterator[Event],
      state: org.apache.spark.sql.streaming.GroupState[SessionState]): Iterator[ClosedSession] = {
    // Timeout invocations (rows empty) MUST be handled before any
    // setTimeoutTimestamp call: the stored timeout is below the current
    // watermark (that's why the group timed out), so re-arming it first
    // throws and kills the query.
    if (state.hasTimedOut) {
      val out = state.getOption.map(closedFrom(userId, _)).iterator
      state.remove()
      return out
    }

    val sorted = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
    val (closed, cur) = advanceSession(gapMs, state.getOption, sorted)
    cur.foreach { s =>
      state.update(s)
      state.setTimeoutTimestamp(s.lastSeen + gapMs)
    }
    closed.map(closedFrom(userId, _)).iterator
  }

  def statefulSessionize(events: org.apache.spark.sql.Dataset[Event],
                         gapMinutes: Int): org.apache.spark.sql.Dataset[ClosedSession] = {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    import events.sparkSession.implicits._
    events.withWatermark("ts", s"$gapMinutes minutes")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(sessionUpdate(gapMinutes.toLong * 60000L))
  }

  /** The same sessionization on Spark 4's transformWithState — the
    * successor stateful API (SPARK-40434, "arbitrary stateful processing
    * v2"): typed named state via a handle, explicit per-key timers, and
    * state TTL. Requires the RocksDB state store provider (the operator's
    * column-family state layout only exists there — pair with
    * [[RocksDBStateStoreConf]]), which is also the right provider at
    * scale. Both engines share [[advanceSession]], and the spec proves
    * they emit identical closed sessions. */
  private[graft] class SessionProcessor(gapMs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, Event, ClosedSession] {
    import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode, TTLConfig, TimeMode, TimerValues, ValueState}

    @transient private var session: ValueState[SessionState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      session = getHandle.getValueState[SessionState]("session",
        org.apache.spark.sql.Encoders.product[SessionState], TTLConfig.NONE)

    override def handleInputRows(userId: Long, rows: Iterator[Event],
        tv: TimerValues): Iterator[ClosedSession] = {
      val sorted = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
      val start = if (session.exists()) Some(session.get()) else None
      val (closed, cur) = advanceSession(gapMs, start, sorted)
      cur.foreach { s =>
        session.update(s)
        // one live timer per key: clear the stale one before re-arming at
        // the new inactivity deadline (timers do not overwrite like
        // setTimeoutTimestamp does)
        getHandle.listTimers().foreach(getHandle.deleteTimer)
        getHandle.registerTimer(s.lastSeen + gapMs)
      }
      closed.map(closedFrom(userId, _)).iterator
    }

    override def handleExpiredTimer(userId: Long, tv: TimerValues,
        info: ExpiredTimerInfo): Iterator[ClosedSession] = {
      val out =
        if (session.exists()) Iterator.single(closedFrom(userId, session.get()))
        else Iterator.empty
      session.clear()
      out
    }
  }

  def statefulSessionizeTWS(events: org.apache.spark.sql.Dataset[Event],
                            gapMinutes: Int): org.apache.spark.sql.Dataset[ClosedSession] = {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    import events.sparkSession.implicits._
    events.withWatermark("ts", s"$gapMinutes minutes")
      .groupByKey(_.user_id)
      .transformWithState(new SessionProcessor(gapMinutes.toLong * 60000L),
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** Session confs for a RocksDB-backed state store. The default
    * HDFS-backed provider keeps every version of all state in executor
    * heap — fine for bounded demo state, but sessionizing 100 TB/day of
    * events means state per executor far beyond heap. RocksDB spills to
    * local disk with bounded block-cache memory, and changelog
    * checkpointing uploads per-batch deltas instead of full snapshots.
    * Apply with `conf.foreach { case (k, v) => spark.conf.set(k, v) }`
    * before starting the query (the provider is resolved per query run).
    * Results are provider-independent — proven in StreamingSpec. */
  val RocksDBStateStoreConf: Map[String, String] = Map(
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" ->
      "true")

  /** Drive a streaming query synchronously over whatever is currently in
    * the source dir (test/dev helper; memory sink). */
  def runToMemory(df: DataFrame, name: String, outputMode: String = "complete"): StreamingQuery = {
    val q = df.writeStream.format("memory").queryName(name)
      .outputMode(outputMode)
      .trigger(Trigger.AvailableNow())
      .start()
    q
  }
}
