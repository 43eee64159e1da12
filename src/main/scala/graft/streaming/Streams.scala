package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.ParquetFrame
import graft.model.Schemas
import graft.ops.StreamBatch

/** SURVEY.md §2.I — Structured Streaming jobs.
  *
  * The windowed transforms are the SAME functions the batch bindings run
  * ([[StreamBatch.tumbling]]/[[StreamBatch.sliding]]/[[StreamBatch.sessions]]),
  * so batch output (DuckDB-oracled) is the stream's expected result —
  * SURVEY §5.4 batch↔stream equivalence, tested with MemoryStream in
  * `graft.StreamingSpec`.
  */
/** Spark 4 `StatefulProcessor`: per-user running (count, sum) held in a
  * typed `ValueState` handle (no TTL — totals are lifetime aggregates). */
class UserTotalsProcessor
  extends org.apache.spark.sql.streaming.StatefulProcessor[
    Long, graft.model.Event, (Long, Long, Double)] {
  import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TimerValues, TTLConfig, ValueState}

  @transient private var totals: ValueState[(Long, Double)] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    totals = getHandle.getValueState[(Long, Double)]("totals",
      org.apache.spark.sql.Encoders.product[(Long, Double)], TTLConfig.NONE)

  override def handleInputRows(user: Long, rows: Iterator[graft.model.Event],
                               timerValues: TimerValues): Iterator[(Long, Long, Double)] = {
    val (n0, s0) = if (totals.exists()) totals.get() else (0L, 0.0)
    val batch = rows.toSeq
    val next = (n0 + batch.size, s0 + batch.flatMap(_.value).sum)
    totals.update(next)
    Iterator.single((user, next._1, next._2))
  }
}

/** [[UserTotalsProcessor]] with WARM-START: the state bootstrap pattern
  * for migrating a batch pipeline to streaming without reprocessing
  * history — `handleInitialState` seeds each key's `ValueState` from a
  * batch-computed (count, sum) row BEFORE the first micro-batch, then
  * the stream folds deltas on top. At 100 TB the alternative is
  * replaying the full history through the stream; here it's one batch
  * aggregate + state handoff. */
class UserTotalsWarmStartProcessor
  extends org.apache.spark.sql.streaming.StatefulProcessorWithInitialState[
    Long, graft.model.Event, (Long, Long, Double), (Long, Double)] {
  import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TimerValues, TTLConfig, ValueState}

  @transient private var totals: ValueState[(Long, Double)] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    totals = getHandle.getValueState[(Long, Double)]("totals",
      org.apache.spark.sql.Encoders.product[(Long, Double)], TTLConfig.NONE)

  override def handleInitialState(user: Long, initial: (Long, Double),
                                  timerValues: TimerValues): Unit =
    totals.update(initial)

  override def handleInputRows(user: Long, rows: Iterator[graft.model.Event],
                               timerValues: TimerValues): Iterator[(Long, Long, Double)] = {
    val (n0, s0) = if (totals.exists()) totals.get() else (0L, 0.0)
    val batch = rows.toSeq
    val next = (n0 + batch.size, s0 + batch.flatMap(_.value).sum)
    totals.update(next)
    Iterator.single((user, next._1, next._2))
  }
}

/** Timer-driven gap sessionization on event time: events buffer in a
  * `ListState` and sessions are emitted ONLY from `handleExpiredTimer`,
  * when the watermark crosses `session_last_event + gap` — a group
  * closes because event time passed, never because more data happened to
  * arrive (an event 2 h ahead of the buffer does NOT flush the old
  * session early: a straggler inside the watermark could still extend
  * it). One timer per key, armed at the EARLIEST unflushed session's
  * close; expiry emits every gap-delimited session the watermark has
  * sealed, keeps the rest buffered, and re-arms. This is the
  * state-variable + timer surface `session_window` hides; the explicit
  * form also lets a session carry arbitrary payload (here the buffered
  * count/sum and the closing timestamp).
  *
  * Output: (user_id, n_events, sum_value, session_close_ms). */
class SessionTimeoutProcessor(gapMs: Long)
  extends org.apache.spark.sql.streaming.StatefulProcessor[
    Long, graft.model.Event, (Long, Long, Double, Long)] {
  import org.apache.spark.sql.streaming.{ExpiredTimerInfo, ListState,
    OutputMode, TimeMode, TimerValues, TTLConfig, ValueState}

  @transient private var buf: ListState[(Long, Double)] = _
  @transient private var armed: ValueState[Long] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    buf = getHandle.getListState[(Long, Double)]("buf",
      org.apache.spark.sql.Encoders.product[(Long, Double)], TTLConfig.NONE)
    armed = getHandle.getValueState[Long]("armed",
      org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
  }

  /** Gap-split the buffered (ts, value) rows into ordered sessions. */
  private def sessions(items: Seq[(Long, Double)]): Seq[Seq[(Long, Double)]] = {
    val sorted = items.sortBy(_._1)
    if (sorted.isEmpty) Nil
    else sorted.tail.foldLeft(Vector(Vector(sorted.head))) { (acc, e) =>
      if (e._1 - acc.last.last._1 > gapMs) acc :+ Vector(e)
      else acc.init :+ (acc.last :+ e)
    }
  }

  private def rearm(closeMs: Long): Unit = {
    if (armed.exists()) getHandle.deleteTimer(armed.get())
    getHandle.registerTimer(closeMs)
    armed.update(closeMs)
  }

  override def handleInputRows(user: Long, rows: Iterator[graft.model.Event],
                               timerValues: TimerValues)
      : Iterator[(Long, Long, Double, Long)] = {
    rows.foreach(e => buf.appendValue((e.ts.getTime, e.value.getOrElse(0.0))))
    val sess = sessions(buf.get().toSeq)
    if (sess.nonEmpty) rearm(sess.head.last._1 + gapMs)
    Iterator.empty
  }

  override def handleExpiredTimer(user: Long, timerValues: TimerValues,
                                  expired: ExpiredTimerInfo)
      : Iterator[(Long, Long, Double, Long)] = {
    val wm = timerValues.getCurrentWatermarkInMs
    val (closed, open) = sessions(buf.get().toSeq)
      .partition(sess => sess.last._1 + gapMs <= wm)
    armed.clear()
    if (open.isEmpty) buf.clear()
    else {
      buf.put(open.flatten.toArray)
      rearm(open.head.last._1 + gapMs)
    }
    closed.iterator.map(sess => (user, sess.size.toLong,
      sess.map(_._2).sum, sess.last._1 + gapMs))
  }
}

/** Watermark-ordered streaming CUSUM [N]: the batch `win_cusum_drift`
  * recurrence S = max(0, S + (x - target)) made exactly-once ONLINE.
  * The recurrence is order-sensitive, so rows buffer in `ListState` and
  * emit ONLY from `handleExpiredTimer` once the watermark seals their
  * event time — emission replays them in (ts, event_id) order against a
  * running `ValueState`, which makes the statistic independent of
  * arrival order and micro-batch boundaries (the SessionTimeoutProcessor
  * discipline applied to a running fold instead of gap grouping).
  * Output: (user_id, event_id, cusum). */
class CusumProcessor(target: Double)
  extends org.apache.spark.sql.streaming.StatefulProcessor[
    Long, graft.model.Event, (Long, Long, Double)] {
  import org.apache.spark.sql.streaming.{ExpiredTimerInfo, ListState,
    OutputMode, TimeMode, TimerValues, TTLConfig, ValueState}

  @transient private var buf: ListState[(Long, Long, Double)] = _
  @transient private var run: ValueState[Double] = _
  @transient private var armed: ValueState[Long] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    buf = getHandle.getListState[(Long, Long, Double)]("buf",
      org.apache.spark.sql.Encoders.product[(Long, Long, Double)],
      TTLConfig.NONE)
    run = getHandle.getValueState[Double]("run",
      org.apache.spark.sql.Encoders.scalaDouble, TTLConfig.NONE)
    armed = getHandle.getValueState[Long]("armed",
      org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
  }

  private def rearm(atMs: Long): Unit = {
    if (armed.exists()) getHandle.deleteTimer(armed.get())
    getHandle.registerTimer(atMs)
    armed.update(atMs)
  }

  override def handleInputRows(user: Long, rows: Iterator[graft.model.Event],
                               timerValues: TimerValues)
      : Iterator[(Long, Long, Double)] = {
    rows.foreach(e => buf.appendValue(
      (e.ts.getTime, e.event_id, e.value.getOrElse(target))))
    val earliest = buf.get().map(_._1).foldLeft(Long.MaxValue)(_ min _)
    if (earliest != Long.MaxValue) rearm(earliest)
    Iterator.empty
  }

  override def handleExpiredTimer(user: Long, timerValues: TimerValues,
                                  expired: ExpiredTimerInfo)
      : Iterator[(Long, Long, Double)] = {
    val wm = timerValues.getCurrentWatermarkInMs
    val (sealedRows, open) = buf.get().toSeq.partition(_._1 <= wm)
    armed.clear()
    if (open.isEmpty) buf.clear()
    else {
      buf.put(open.toArray)
      rearm(open.map(_._1).min)
    }
    var s = if (run.exists()) run.get() else 0.0
    val out = sealedRows.sortBy(r => (r._1, r._2)).map { case (_, eid, v) =>
      s = math.max(0.0, s + (v - target))
      (user, eid, s)
    }
    run.update(s)
    out.iterator
  }
}

object Streams {

  /** File-source event stream over a parquet landing dir. */
  def eventStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(Schemas.event).parquet(dir)

  /** Tumbling/sliding/session aggregations — shared with batch. */
  def tumbling(events: DataFrame): DataFrame = StreamBatch.tumbling(events)
  def sliding(events: DataFrame): DataFrame = StreamBatch.sliding(events)
  def sessions(events: DataFrame): DataFrame = StreamBatch.sessions(events)

  /** Exactly-once-per-key within the watermark
    * (`stream_dedup_stateful`'s streaming form). */
  def dedupWithinWatermark(events: DataFrame): DataFrame =
    events.withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")

  /** Late/out-of-order handling: append-mode tumbling counts where rows
    * older than the 10-minute watermark are dropped (`stream_late_data`;
    * unit-tested only — not SQL-expressible). */
  def lateDataCounts(events: DataFrame): DataFrame =
    events.withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("w_start"), col("n"))

  /** Arbitrary stateful processing (SURVEY §2.I `(flatMap)GroupsWithState`):
    * running per-user (count, sum) maintained across micro-batches in
    * keyed state — the custom-state primitive the windowed aggs can't
    * express. Update-mode output: one row per touched user per batch. */
  def runningUserTotals(events: org.apache.spark.sql.Dataset[graft.model.Event])
      : org.apache.spark.sql.Dataset[(Long, Long, Double)] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.GroupState
    events.groupByKey(_.user_id)
      .mapGroupsWithState[(Long, Double), (Long, Long, Double)](
        org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[graft.model.Event], state: GroupState[(Long, Double)]) =>
          val (n0, s0) = state.getOption.getOrElse((0L, 0.0))
          val batch = rows.toSeq
          val next = (n0 + batch.size, s0 + batch.flatMap(_.value).sum)
          state.update(next)
          (user, next._1, next._2)
      }
  }

  /** `flatMapGroupsWithState` variant: emits a row only when a user's
    * running total crosses a 100.0 threshold multiple (0..n outputs per
    * group per batch — the shape mapGroups can't express). */
  def thresholdAlerts(events: org.apache.spark.sql.Dataset[graft.model.Event])
      : org.apache.spark.sql.Dataset[(Long, Long, Double)] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[Double, (Long, Long, Double)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[graft.model.Event], state: GroupState[Double]) =>
          var total = state.getOption.getOrElse(0.0)
          val alerts = rows.flatMap { e =>
            val before = total
            total += e.value.getOrElse(0.0)
            // one alert per 100.0 boundary crossed by this event
            ((before / 100).toLong + 1) to (total / 100).toLong map { k =>
              (user, k * 100, total)
            }
          }.toVector
          state.update(total)
          alerts.iterator
      }
  }

  /** Per-key RUNNING TOP-K leaderboard in keyed state — the streaming
    * form of the `stream_topk` batch plan (same comparator as
    * [[graft.functions.TopKByAgg]]: value DESC, id ASC). State per key
    * is the k-bounded list itself, so state size is O(keys × k)
    * regardless of stream length — the bounded-state discipline
    * watermarks give windows, applied to a ranking. Update-mode output:
    * the key's current leaderboard after each batch (one row per rank).
    * StreamingSpec asserts the final state equals the batch plan. */
  def runningTopK(events: org.apache.spark.sql.Dataset[graft.model.Event],
                  k: Int = 5)
      : org.apache.spark.sql.Dataset[(String, Int, Long, Double)] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.GroupState
    events.groupByKey(_.event_type)
      .mapGroupsWithState[Seq[(Double, Long)], Seq[(String, Int, Long, Double)]](
        org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout) {
        (key: String, rows: Iterator[graft.model.Event],
         state: GroupState[Seq[(Double, Long)]]) =>
          val incoming = rows.flatMap(e => e.value.map(v => (v, e.event_id))).toSeq
          val merged = (state.getOption.getOrElse(Seq.empty) ++ incoming)
            .sortBy { case (v, id) => (-v, id) }
            .take(k)
          state.update(merged)
          merged.zipWithIndex.map { case ((v, id), i) => (key, i + 1, id, v) }
      }
      .flatMap(identity)
  }

  /** Per-user running totals through Spark 4's `transformWithState`
    * (the successor of `mapGroupsWithState`: explicit typed state handles
    * with TTL support, timers, and a RocksDB-backed store). Semantics are
    * identical to [[runningUserTotals]] — the spec asserts both APIs
    * agree batch-for-batch. */
  def runningUserTotalsV2(events: org.apache.spark.sql.Dataset[graft.model.Event])
      : org.apache.spark.sql.Dataset[(Long, Long, Double)] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    events.groupByKey(_.user_id)
      .transformWithState(new UserTotalsProcessor, TimeMode.None(), OutputMode.Update())
  }

  /** [[runningUserTotalsV2]] warm-started from a batch backfill: the
    * initial state is a batch (user, count, sum) table; the stream
    * continues the totals from there. See
    * [[UserTotalsWarmStartProcessor]]. */
  def runningUserTotalsWarmStart(
      events: org.apache.spark.sql.Dataset[graft.model.Event],
      backfill: org.apache.spark.sql.Dataset[(Long, Long, Double)])
      : org.apache.spark.sql.Dataset[(Long, Long, Double)] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    val initial = backfill.groupByKey(_._1).mapValues(r => (r._2, r._3))
    events.groupByKey(_.user_id)
      .transformWithState(new UserTotalsWarmStartProcessor,
        TimeMode.None(), OutputMode.Update(), initial)
  }

  /** Gap sessions closed by event-time TIMERS ([[SessionTimeoutProcessor]]):
    * requires a watermark on `ts` (TimeMode.EventTime) — sessions emit
    * when the watermark passes `last_event + gap`, so output is
    * append-shaped and late events beyond the watermark can never reopen
    * a closed session. */
  def timedSessions(events: org.apache.spark.sql.Dataset[graft.model.Event],
                    gapMinutes: Int = 30)
      : org.apache.spark.sql.Dataset[(Long, Long, Double, Long)] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    events.withWatermark("ts", "10 minutes")
      .groupByKey(_.user_id)
      .transformWithState(new SessionTimeoutProcessor(gapMinutes * 60000L),
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** Streaming CUSUM drift (see [[CusumProcessor]]). */
  def cusumDrift(events: org.apache.spark.sql.Dataset[graft.model.Event],
                 target: Double = 50.0)
      : org.apache.spark.sql.Dataset[(Long, Long, Double)] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    events.withWatermark("ts", "10 minutes")
      .groupByKey(_.user_id)
      .transformWithState(new CusumProcessor(target),
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** Watermarked stream-stream interval join: each click pairs with the
    * same user's views from the preceding 5 minutes. Both sides carry
    * watermarks so the join state is bounded — rows age out once the
    * event-time bound passes (the unbounded-state hazard the watermark
    * exists to prevent). At scale: state is hash-partitioned by user_id;
    * the interval bound caps per-key state linearly in the window. */
  def clickViewJoin(clicks: DataFrame, views: DataFrame,
                    boundMinutes: Int = 5): DataFrame = {
    val c = clicks.select(col("user_id").as("c_user"), col("ts").as("c_ts"),
        col("event_id").as("click_id"))
      .withWatermark("c_ts", "10 minutes")
    val v = views.select(col("user_id").as("v_user"), col("ts").as("v_ts"),
        col("event_id").as("view_id"))
      .withWatermark("v_ts", "10 minutes")
    c.join(v, expr(
      s"""c_user = v_user AND
         |v_ts BETWEEN c_ts - INTERVAL $boundMinutes MINUTES AND c_ts""".stripMargin))
      .select(col("c_user").as("user_id"), col("click_id"), col("view_id"),
        col("c_ts"), col("v_ts"))
  }

  /** LEFT OUTER stream-stream join: every click emits — paired with its
    * preceding views when they exist, or null-padded once the watermark
    * proves no match can still arrive. The null-padded row is the
    * interesting one: it CANNOT be emitted eagerly (a matching view may
    * still be in flight inside the watermark), so it appears only after
    * event time passes `click_ts + bound + watermark delay`. Same
    * bounded-state shape as [[clickViewJoin]]. */
  def clickViewJoinLeftOuter(clicks: DataFrame, views: DataFrame,
                             boundMinutes: Int = 5): DataFrame = {
    val c = clicks.select(col("user_id").as("c_user"), col("ts").as("c_ts"),
        col("event_id").as("click_id"))
      .withWatermark("c_ts", "10 minutes")
    val v = views.select(col("user_id").as("v_user"), col("ts").as("v_ts"),
        col("event_id").as("view_id"))
      .withWatermark("v_ts", "10 minutes")
    c.join(v, expr(
      s"""c_user = v_user AND
         |v_ts BETWEEN c_ts - INTERVAL $boundMinutes MINUTES AND c_ts""".stripMargin),
      "left_outer")
      .select(col("c_user").as("user_id"), col("click_id"), col("view_id"),
        col("c_ts"), col("v_ts"))
  }

  /** The reference's scheduled-refresh loop (`update.yml:4-7,33-39`:
    * cron batch + commit-if-changed) as a `Trigger.AvailableNow` streaming
    * job: drain whatever landed, publish only when content changed
    * (delta = new EXCEPT previous snapshot), exactly-once via checkpoint.
    */
  /** Stream-side as-of enrichment: attach the most recent static
    * `series` value to every probe row of a stream. Stream-static as-of
    * isn't natively plannable (the merge needs both sides sorted), so
    * each micro-batch runs the native [[graft.plans.AsOf]] backward merge
    * inside `foreachBatch` — the static side's exchange is replanned per
    * batch but stays a K-partition shuffle of the (small) series. The
    * sink callback receives the enriched batch. */
  def asofEnrich(stream: DataFrame, series: DataFrame,
                 key: String, time: String, tiebreak: String, value: String,
                 checkpointDir: String)(sink: DataFrame => Unit): StreamingQuery =
    stream.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        sink(graft.plans.AsOf.joinBackward(
          batch, series, key, time, tiebreak, value))
      }
      .start()

  /** Streaming ANN serving from a SAVED pinned IVF index
    * ([[graft.ext.SimSearch.buildIvfIndexPinned]]) — the last leg of
    * the index lifecycle (train once → persist → append deltas →
    * serve a PROBE STREAM): each probe micro-batch is routed through
    * [[graft.ext.SimSearch.servedTopKPinned]] inside foreachBatch, so
    * every batch pays only the K-row centroid broadcast plus the
    * nprobe-pruned cell scan, never a retrain. Deterministic serving
    * (the pinned discipline) makes replays idempotent row-for-row;
    * StreamingSpec pins the streamed answers to the batch serve. */
  def serveProbes(probes: DataFrame, indexDir: String, checkpointDir: String)
                 (sink: DataFrame => Unit): StreamingQuery =
    probes.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        sink(graft.ext.SimSearch.servedTopKPinned(
          batch.sparkSession, indexDir, batch))
      }
      .start()

  /** Streaming incremental maintenance of one epoch store (see
    * [[graft.pipeline.EpochStore]]): each micro-batch of `stream` runs
    * `delta(batch, epoch)` — one of the stores' delta writers, e.g.
    * `Dedup.dedupDelta(_, storeDir, _)`, `SubstrDedup.substrDedupDelta`,
    * `substrCharsDelta`, `EvalExtra.bm25Delta`, `SimSearch.centroidDelta`,
    * `knnGraphDelta`, `hnswDelta` (any HNSW stack height),
    * `Multimodal.corpusCleanMultimodalDelta` or `Audio.audioFpDelta` — and
    * the sink receives what the writer serves as of that epoch. Every
    * writer reads only the saved store plus the batch (the historical
    * corpus is never reprocessed) and replaces only its own `epoch=N`
    * partitions, so a re-delivered epoch rewrites identical rows
    * (StreamingSpec pins streamed ≡ the batch keys and the replay). */
  def epochDeltas(stream: DataFrame, checkpointDir: String)
                 (delta: (DataFrame, Long) => DataFrame)
                 (sink: DataFrame => Unit): StreamingQuery =
    stream.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, epoch: Long) =>
        sink(delta(batch, epoch))
      }
      .start()

  def scheduledRefresh(spark: SparkSession, srcDir: String, outDir: String,
                       checkpointDir: String): StreamingQuery =
    eventStream(spark, srcDir).writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // only a missing previous snapshot means "start empty"; any other
        // read failure must surface, not silently duplicate the batch.
        // Probed through Hadoop's FileSystem (VERDICT r11 #4): outDir is
        // public lifecycle API and may be an HDFS/S3 URI — a java.io.File
        // listing reads "absent" there, so commit-if-changed would
        // silently re-append the full batch every run
        val prev =
          if (graft.Hfs.childNames(outDir).exists(_.endsWith(".parquet")))
            spark.read.schema(Schemas.event).parquet(outDir)
          else spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], Schemas.event)
        // commit-if-changed: publish ONLY the rows that differ from the
        // previous snapshot (re-delivered rows are not re-appended)
        val delta = batch.exceptAll(prev)
        if (!delta.isEmpty) {
          delta.write.mode("append").parquet(outDir)
        }
      }
      .start()

  /** Streaming PARTITION-LEVEL publish: each micro-batch rewrites only
    * the `yr` partitions it touches, via dynamic partition overwrite
    * inside foreachBatch — the streaming form of
    * `sink_commit_partitions` (ops/Scans.scala), and the idempotent way
    * to maintain a partitioned serving table from a stream: replaying a
    * micro-batch rewrites the same partitions to the same content
    * instead of appending duplicates. Partitions the stream never
    * touches are physically untouched (StreamingSpec checks file
    * identity). The micro-batch must carry EVERY row of each partition
    * it means to publish (a batch is the partition's new truth, not a
    * delta) — that is the overwrite contract. */
  def publishPartitions(spark: SparkSession, src: DataFrame, outDir: String,
                        checkpointDir: String): StreamingQuery =
    src.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.withColumn("yr", year(col("ts")))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("yr").parquet(outDir)
      }
      .start()

  /** Streaming maintenance of the [[graft.ops.Incremental]] partial-agg
    * state: each micro-batch of (user_id, price) rows folds into the
    * previous state VERSION and writes the next — O(batch + state) per
    * trigger, never a rescan of history, and versioned state dirs make
    * replay idempotent (re-running batch k rewrites v<k> from v<k-1>,
    * same content). The streaming twin of `agg_incremental`: a serving
    * table of per-key (n, sum, min, max) that is always one batch behind
    * the stream head. */
  def maintainIncrementalState(spark: SparkSession, srcDir: String,
                               stateDir: String,
                               checkpointDir: String): StreamingQuery = {
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("user_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("price",
        org.apache.spark.sql.types.DecimalType(12, 2))))
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir)
      .writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val st =
          if (batchId > 0)
            predecessorState(batch.sparkSession, stateDir, batchId,
              "incremental", "undercount")
          else // empty state with the state schema
            graft.ops.Incremental.state(batch.limit(0), Seq("user_id"), "price")
        graft.ops.Incremental.mergeDelta(st, batch, Seq("user_id"), "price")
          .write.mode("overwrite").parquet(s"$stateDir/v$batchId")
      }
      .start()
  }

  /** Retraction-aware streaming view maintenance: each micro-batch is a
    * slice of an I/U/D CHANGELOG folded into the versioned (count, sum)
    * state via [[graft.ops.Incremental.mergeChangelog]] — the streaming
    * form of `agg_incremental_cdc`, with the same fail-loud
    * missing-predecessor contract as [[maintainIncrementalState]].
    * `seedDir` holds the view state over the PREV snapshot (batch 0
    * folds into it, never into empty state). */
  def maintainChangelogState(spark: SparkSession, srcDir: String,
                             seedDir: String, stateDir: String,
                             checkpointDir: String): StreamingQuery = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("op", StringType),
      StructField("o_custkey", LongType),
      StructField("old_price", DecimalType(16, 4)),
      StructField("new_price", DecimalType(16, 4))))
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir)
      .writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val st =
          if (batchId > 0)
            predecessorState(batch.sparkSession, stateDir, batchId,
              "changelog", "drift")
          else ParquetFrame(batch.sparkSession, Seq(seedDir))
        graft.ops.Incremental.mergeChangelog(st, batch, Seq("o_custkey"),
            "old_price", "new_price")
          .write.mode("overwrite").parquet(s"$stateDir/v$batchId")
      }
      .start()
  }

  /** Whether state version dir `v` is committed: Spark creates `v<k>`
    * before its write job commits and leaves `_SUCCESS` only on commit,
    * so a crashed or in-flight state write is not a version (the
    * [[graft.pipeline.EpochStore]] rule). Probed through Hadoop's
    * FileSystem, so an HDFS/S3 stateDir reads alike (r11 #4). */
  private def committedVersion(v: String): Boolean = graft.Hfs.exists(s"$v/_SUCCESS")

  /** The committed state version `v<batchId-1>` that batch `batchId > 0`
    * folds into. Only batch 0 may start without one: a missing
    * predecessor with a surviving checkpoint (state dir cleaned, prior
    * batch died between checkpoint and state write) must FAIL LOUDLY —
    * folding batch k into empty state would serve silently wrong
    * aggregates forever after. */
  private def predecessorState(spark: SparkSession, stateDir: String,
                               batchId: Long, kind: String,
                               harm: String): DataFrame = {
    val prev = s"$stateDir/v${batchId - 1}"
    if (!committedVersion(prev))
      sys.error(s"$kind state v${batchId - 1} missing under " +
        s"$stateDir but checkpoint expects batch $batchId; refusing " +
        s"to rebuild from empty state (would silently $harm)")
    ParquetFrame(spark, Seq(prev))
  }

  /** Latest committed state version written by
    * [[maintainIncrementalState]] or [[maintainChangelogState]]; returns
    * the version path under `stateDir`. */
  def latestStateVersion(stateDir: String): Option[String] =
    graft.Hfs.childDirNames(stateDir)
      .filter(_.matches("v\\d+")).map(_.drop(1).toInt)
      .sorted.map(v => s"$stateDir/v$v").filter(committedVersion).lastOption

  /** The [[latestStateVersion]]'s rows.
    *
    * @throws RuntimeException if `stateDir` holds no committed version */
  def latestState(spark: SparkSession, stateDir: String): DataFrame =
    ParquetFrame(spark, Seq(latestStateVersion(stateDir).getOrElse(
      sys.error(s"no committed state version under $stateDir"))))
}
