package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** SURVEY.md §2.I — streaming/incremental semantics, batch-mode bindings.
  *
  * The exact same transformations run as Structured Streaming jobs in
  * [[graft.streaming.Streams]] (MemoryStream-tested); here they execute in
  * batch over `events` so DuckDB can oracle them. `withWatermark` is a
  * no-op in batch, so plans are literally shared — batch↔stream
  * equivalence is the test (SURVEY §5.4).
  */
object StreamBatch extends graft.QueryModule {

  /** Tumbling 1 h window agg (reference cadence: cron 4×/day,
    * `update.yml:6`, generalized to event-time windows). */
  def tumbling(events: DataFrame): DataFrame =
    events.withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), bround(sum(col("value")), 2).as("sum_value"))
      .select(col("window.start").as("w_start"), col("event_type"), col("n"), col("sum_value"))

  private def tumblingAgg(s: SparkSession, d: String): DataFrame =
    tumbling(Tables.events(s, d)).orderBy("w_start", "event_type")

  /** Sliding 1 h / 15 min windows — each event lands in 4 windows. */
  def sliding(events: DataFrame): DataFrame =
    events.withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"), bround(sum(col("value")), 2).as("sum_value"))
      .select(col("window.start").as("w_start"), col("event_type"), col("n"), col("sum_value"))

  private def slidingAgg(s: SparkSession, d: String): DataFrame =
    sliding(Tables.events(s, d)).orderBy("w_start", "event_type")

  /** Gap-based session windows (30 min) per user. */
  def sessions(events: DataFrame): DataFrame =
    events.withWatermark("ts", "10 minutes")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n"), bround(sum(col("value")), 2).as("sum_value"))
      .select(col("session_window.start").as("s_start"), col("user_id"), col("n"), col("sum_value"))

  private def sessionAgg(s: SparkSession, d: String): DataFrame =
    sessions(Tables.events(s, d)).orderBy("user_id", "s_start")

  /** Deterministic exactly-once-per-key dedup (batch formulation of
    * `dropDuplicatesWithinWatermark`): first event per (user, type). */
  private def dedupStateful(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ts"), col("event_id"))
    Tables.events(s, d)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_type"), col("event_id"), col("value"))
      .orderBy("user_id", "event_type")
  }

  /** Per-key running top-k leaderboard, batch formulation: the bounded
    * [[graft.functions.TopKByAgg]] per event_type (map-side partial
    * top-k, shuffle carries only the k-row buffers). The streaming form
    * ([[graft.streaming.Streams.runningTopK]]) maintains the same
    * bounded list in keyed state via mapGroupsWithState; StreamingSpec
    * asserts the stream's final state equals this plan's answer. Null
    * values carry no rank and are excluded on both sides. */
  private def topkStateful(s: SparkSession, d: String): DataFrame = {
    Tables.events(s, d)
      .filter(col("value").isNotNull)
      .groupBy(col("event_type"))
      .agg(graft.functions.VectorFunctions.topk_by(col("value"), col("event_id"), 5).as("nn"))
      .select(col("event_type"), posexplode(col("nn")).as(Seq("pos", "e")))
      .select(col("event_type"), (col("pos") + 1).cast("int").as("rnk"),
        col("e.id").as("event_id"), col("e.ord").as("value"))
      .orderBy("event_type", "rnk")
  }

  /** Stream-stream interval join, batch formulation: the EXACT plan of
    * [[graft.streaming.Streams.clickViewJoin]] (watermarks are no-ops in
    * batch) run over the events table — each click pairs with the same
    * user's views from the preceding 4 hours. The streaming form keeps
    * both sides' state bounded by the watermark + interval condition
    * (StreamingSpec); here DuckDB oracles the join itself. At scale the
    * equi-key (user_id) makes this a hash-partitioned join; the time
    * bound is a residual predicate, never a cross product. */
  private def intervalJoin(s: SparkSession, d: String): DataFrame = {
    val e = Tables.events(s, d)
    graft.streaming.Streams.clickViewJoin(
        e.filter(col("event_type") === "click"),
        e.filter(col("event_type") === "view"),
        boundMinutes = 240)
      .orderBy("user_id", "click_id", "view_id")
  }

  /** The LEFT OUTER stream-stream join
    * ([[graft.streaming.Streams.clickViewJoinLeftOuter]]) on the shared
    * batch/stream plan: every click emits, null-padded when no view
    * precedes it within the bound. StreamingSpec drives the same code
    * as a real watermarked stream (where the null-padded row may only
    * emit after the watermark proves no match can arrive); this key
    * pins the JOIN SEMANTICS against a plain SQL left join. */
  private def outerIntervalJoin(s: SparkSession, d: String): DataFrame = {
    val e = Tables.events(s, d)
    graft.streaming.Streams.clickViewJoinLeftOuter(
        e.filter(col("event_type") === "click"),
        e.filter(col("event_type") === "view"),
        boundMinutes = 240)
      .orderBy("user_id", "click_id", "view_id")
  }

  /** Streaming incremental-state maintenance end to end
    * ([[graft.streaming.Streams.maintainIncrementalState]]): events are
    * sliced into three files, streamed one file per micro-batch, each
    * batch folded into the versioned partial-agg state; the key serves
    * the FINAL state, and the oracle recomputes the same aggregate over
    * all events at once — equality proves three incremental folds lose
    * nothing vs one big groupBy. */
  private def incrementalMaintain(s: SparkSession, d: String): DataFrame = {
    val base = graft.Scratch.dir("inc_stream")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    val src = s"$base/src"
    val ev = Tables.events(s, d)
      .select(col("event_id"), col("user_id"),
        col("value").cast("decimal(12,2)").as("price"))
    for (slice <- 0 to 2) {
      ev.filter(pmod(col("event_id"), lit(3)) === slice)
        .select(col("user_id"), col("price"))
        .coalesce(1).write.mode("append").parquet(src)
    }
    val q = graft.streaming.Streams.maintainIncrementalState(
      s, src, s"$base/state", s"$base/ckpt")
    q.awaitTermination()
    graft.streaming.Streams.latestState(s, s"$base/state")
      .select(col("user_id"), col("n"),
        col("s").cast("double").as("total"),
        col("mn").cast("double").as("mn"), col("mx").cast("double").as("mx"))
      .orderBy("user_id")
  }

  /** Streaming RETRACTION maintenance end to end
    * ([[graft.streaming.Streams.maintainChangelogState]]): the CDC
    * changelog (cdcViewParts' I/U/D rows) is sliced into three files,
    * streamed one per micro-batch, and each batch folds into the
    * versioned (count, sum) view state as SIGNED deltas — deletes
    * subtract, updates shift. The key serves the FINAL state and the
    * oracle recomputes the view from scratch over the CURR snapshot:
    * equality proves three changelog folds land exactly where one
    * direct maintenance (or a full recompute) lands. */
  private def incrementalCdcMaintain(s: SparkSession, d: String): DataFrame = {
    val base = graft.Scratch.dir("cdc_stream")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    val (view0, log) = Warehouse.cdcViewParts(s, d)
    view0.write.mode("overwrite").parquet(s"$base/seed")
    for (slice <- 0 to 2) {
      log.filter(pmod(col("o_custkey"), lit(3)) === slice)
        .coalesce(1).write.mode("append").parquet(s"$base/src")
    }
    val q = graft.streaming.Streams.maintainChangelogState(
      s, s"$base/src", s"$base/seed", s"$base/state", s"$base/ckpt")
    q.awaitTermination()
    graft.streaming.Streams.latestState(s, s"$base/state")
      .select(col("o_custkey"), col("n"), col("s").cast("double").as("total"))
      .orderBy("o_custkey")
  }

  /** Streaming STATE introspection [N] — Spark 4's `statestore` batch
    * source: a real AvailableNow streaming aggregation runs against a
    * checkpoint, then the checkpoint's state store is read back as a
    * DataFrame (the debugging/observability surface for stateful
    * streaming — "what does my state actually contain right now").
    * The state rows must equal the batch aggregate of the same input —
    * that equality IS the oracle, proving the state source reads what
    * the stateful operator wrote. Buffer field names are engine-
    * internal, so columns rebind positionally. */
  private def stateReader(s: SparkSession, d: String): DataFrame = {
    val src = graft.Scratch.dir("state_src")
    val ckpt = graft.Scratch.dir("state_ckpt")
    Seq(src, ckpt).foreach { dir =>
      val p = new org.apache.hadoop.fs.Path(dir)
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) fs.delete(p, true)
    }
    Tables.events(s, d)
      .select(col("user_id"), col("event_type"))
      .write.parquet(src)
    val q = s.readStream
      .schema("user_id BIGINT, event_type STRING")
      .parquet(src)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("user_id")).as("uid_sum"))
      .writeStream
      .format("noop")
      .outputMode("update")
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    s.read.format("statestore").load(ckpt)
      .select(col("key.*"), col("value.*"))
      .toDF("event_type", "n", "uid_sum")
      .orderBy("event_type")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "stream_state_reader" -> stateReader,
    "stream_incremental_cdc" -> incrementalCdcMaintain,
    "stream_incremental_agg" -> incrementalMaintain,
    "stream_tumbling_agg" -> tumblingAgg,
    "stream_sliding_agg" -> slidingAgg,
    "stream_session_agg" -> sessionAgg,
    "stream_dedup_stateful" -> dedupStateful,
    "stream_interval_join" -> intervalJoin,
    "stream_outer_join" -> outerIntervalJoin,
    "stream_topk" -> topkStateful)

  val oracles: Map[String, String] = Map(
    // same from-scratch-over-CURR oracle as agg_incremental_cdc: the
    // streamed folds must land exactly where the batch fold lands
    "stream_incremental_cdc" ->
      """WITH curr AS (
        |  SELECT o_custkey,
        |         CASE WHEN o_orderkey % 5 = 0
        |              THEN CAST(o_totalprice AS DECIMAL(12,2))
        |                   * CAST(1.05 AS DECIMAL(3,2))
        |              ELSE CAST(CAST(o_totalprice AS DECIMAL(12,2))
        |                        AS DECIMAL(16,4)) END AS price
        |  FROM orders WHERE o_orderkey % 7 <> 2)
        |SELECT o_custkey, CAST(count(price) AS BIGINT) AS n,
        |       CAST(sum(price) AS DOUBLE) AS total
        |FROM curr GROUP BY o_custkey ORDER BY o_custkey""".stripMargin,
    "stream_incremental_agg" ->
      """SELECT user_id,
        |       CAST(count(value) AS BIGINT) AS n,
        |       CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total,
        |       CAST(min(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS mn,
        |       CAST(max(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS mx
        |FROM events
        |GROUP BY user_id ORDER BY user_id""".stripMargin,
    "stream_state_reader" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(user_id) AS BIGINT) AS uid_sum
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "stream_tumbling_agg" ->
      """SELECT time_bucket(INTERVAL '1 hour', date_trunc('microseconds', ts)) AS w_start,
        |       event_type, count(*) AS n, round_even(sum(value), 2) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "stream_sliding_agg" ->
      """WITH e AS (SELECT date_trunc('microseconds', ts) AS ts, event_type, value FROM events),
        |w AS (SELECT time_bucket(INTERVAL '15 minutes', ts) - (i.i * INTERVAL '15 minutes') AS w_start,
        |             event_type, value
        |      FROM e, range(4) i(i))
        |SELECT w_start, event_type, count(*) AS n, round_even(sum(value), 2) AS sum_value
        |FROM w GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "stream_session_agg" ->
      """WITH e AS (SELECT user_id, date_trunc('microseconds', ts) AS ts, value FROM events),
        |m AS (SELECT *, CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
        |                       OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts) >= INTERVAL '30 minutes'
        |                     THEN 1 ELSE 0 END AS new_s
        |      FROM e),
        |g AS (SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
        |                                 ROWS UNBOUNDED PRECEDING) AS sid
        |      FROM m)
        |SELECT min(ts) AS s_start, user_id, count(*) AS n, round_even(sum(value), 2) AS sum_value
        |FROM g GROUP BY user_id, sid ORDER BY user_id, s_start""".stripMargin,
    "stream_interval_join" ->
      """WITH e AS (SELECT event_id, date_trunc('microseconds', ts) AS ts,
        |                  user_id, event_type FROM events),
        |c AS (SELECT user_id, ts AS c_ts, event_id AS click_id FROM e WHERE event_type = 'click'),
        |v AS (SELECT user_id, ts AS v_ts, event_id AS view_id FROM e WHERE event_type = 'view')
        |SELECT c.user_id AS user_id, click_id, view_id, c_ts, v_ts
        |FROM c JOIN v ON c.user_id = v.user_id
        |  AND v_ts BETWEEN c_ts - INTERVAL '240 minutes' AND c_ts
        |ORDER BY 1, 2, 3""".stripMargin,
    "stream_outer_join" ->
      """WITH e AS (SELECT event_id, date_trunc('microseconds', ts) AS ts,
        |                  user_id, event_type FROM events),
        |c AS (SELECT user_id, ts AS c_ts, event_id AS click_id FROM e WHERE event_type = 'click'),
        |v AS (SELECT user_id, ts AS v_ts, event_id AS view_id FROM e WHERE event_type = 'view')
        |SELECT c.user_id AS user_id, click_id, view_id, c_ts, v_ts
        |FROM c LEFT JOIN v ON c.user_id = v.user_id
        |  AND v_ts BETWEEN c_ts - INTERVAL '240 minutes' AND c_ts
        |ORDER BY 1, 2, 3""".stripMargin,
    "stream_dedup_stateful" ->
      """SELECT user_id, event_type, event_id, value FROM (
        |  SELECT *, row_number() OVER (PARTITION BY user_id, event_type
        |    ORDER BY date_trunc('microseconds', ts), event_id) AS rn
        |  FROM events) WHERE rn = 1 ORDER BY user_id, event_type""".stripMargin,
    "stream_topk" ->
      """SELECT event_type, CAST(rn AS INTEGER) AS rnk, event_id, value FROM (
        |  SELECT event_type, event_id, value,
        |         row_number() OVER (PARTITION BY event_type
        |           ORDER BY value DESC, event_id) AS rn
        |  FROM events WHERE value IS NOT NULL)
        |WHERE rn <= 5 ORDER BY event_type, rnk""".stripMargin)
}
