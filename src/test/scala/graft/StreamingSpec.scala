package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.model.Event
import graft.streaming.Streams

/** Structured Streaming behavior (SURVEY §2.I, §5.4): batch↔stream
  * equivalence for windowed aggs, watermark dedup, late-data drop, and
  * the AvailableNow scheduled refresh with commit-if-changed. */
// @Heavy (r15): excluded from the default smoke tier — streaming twin soak; RocksDbStateParitySpec/ChangelogSpec stay in the smoke tier.
@graft.Heavy
class StreamingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def ev(id: Long, iso: String, user: Long, typ: String, v: Double): Event =
    Event(id, Timestamp.valueOf(iso), user, typ, Some(v), "{}")

  test("tumbling agg: stream (complete mode) == batch on the same rows") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rows = Seq(
      ev(1, "2024-01-01 10:05:00", 1, "click", 1.0),
      ev(2, "2024-01-01 10:55:00", 1, "click", 2.0),
      ev(3, "2024-01-01 11:05:00", 2, "view", 4.0),
      ev(4, "2024-01-01 12:40:00", 2, "view", 8.0))
    val ms = MemoryStream[Event]
    ms.addData(rows)
    val q = Streams.tumbling(ms.toDF()).writeStream
      .format("memory").queryName("tumbling_out").outputMode("complete").start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("tumbling_out")
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    val batch = Streams.tumbling(rows.toDF())
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    assert(streamed == batch)
    assert(batch.size == 3)
  }

  test("sliding agg: stream (complete mode) == batch on the same rows") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rows = Seq(
      ev(1, "2024-01-01 10:05:00", 1, "click", 1.0),
      ev(2, "2024-01-01 10:20:00", 1, "click", 2.0),
      ev(3, "2024-01-01 11:10:00", 2, "view", 4.0))
    val ms = MemoryStream[Event]
    ms.addData(rows)
    val q = Streams.sliding(ms.toDF()).writeStream
      .format("memory").queryName("sliding_out").outputMode("complete").start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("sliding_out")
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    val batch = Streams.sliding(rows.toDF())
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    assert(streamed == batch)
    // every event lands in exactly 4 sliding windows
    assert(batch.toSeq.map(_._3).sum == rows.size * 4)
  }

  test("dropDuplicatesWithinWatermark dedups within the watermark") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[Event]
    ms.addData(Seq(
      ev(1, "2024-01-01 10:00:00", 1, "click", 1.0),
      ev(1, "2024-01-01 10:00:30", 1, "click", 1.0), // dup id
      ev(2, "2024-01-01 10:01:00", 1, "view", 2.0)))
    val q = Streams.dedupWithinWatermark(ms.toDF()).writeStream
      .format("memory").queryName("dedup_out").outputMode("append").start()
    q.processAllAvailable(); q.stop()
    assert(spark.table("dedup_out").select("event_id").collect()
      .map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
  }

  test("late data beyond the watermark is dropped from finalized windows") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[Event]
    val q = Streams.lateDataCounts(ms.toDF()).writeStream
      .format("memory").queryName("late_out").outputMode("append").start()
    ms.addData(Seq(ev(1, "2024-01-01 10:00:00", 1, "a", 1.0),
      ev(2, "2024-01-01 10:10:00", 1, "a", 1.0)))
    q.processAllAvailable()
    ms.addData(Seq(ev(3, "2024-01-01 11:30:00", 1, "a", 1.0))) // watermark -> 11:20
    q.processAllAvailable()
    ms.addData(Seq(
      ev(4, "2024-01-01 10:05:00", 1, "a", 1.0), // LATE: before 11:20 watermark
      ev(5, "2024-01-01 12:30:00", 1, "a", 1.0))) // advances watermark
    q.processAllAvailable()
    ms.addData(Seq(ev(6, "2024-01-01 13:30:00", 1, "a", 1.0)))
    q.processAllAvailable(); q.stop()
    val counts = spark.table("late_out").collect()
      .map(r => r.getTimestamp(0).toString -> r.getLong(1)).toMap
    // the 10:00 window finalized with 2 rows; the late event_id=4 was dropped
    assert(counts("2024-01-01 10:00:00.0") == 2L)
  }

  test("mapGroupsWithState accumulates per-user state across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[graft.model.Event]
    val q = Streams.runningUserTotals(ms.toDS()).writeStream
      .format("memory").queryName("state_out").outputMode("update").start()
    ms.addData(Seq(ev(1, "2024-01-01 10:00:00", 7, "a", 1.0),
      ev(2, "2024-01-01 10:01:00", 7, "a", 2.0)))
    q.processAllAvailable()
    ms.addData(Seq(ev(3, "2024-01-01 10:02:00", 7, "a", 4.0)))
    q.processAllAvailable(); q.stop()
    val rows = spark.table("state_out")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // batch 1 emitted (7, 2, 3.0); batch 2 emitted the accumulated (7, 3, 7.0)
    assert(rows.contains((7L, 2L, 3.0)))
    assert(rows.contains((7L, 3L, 7.0)))
  }

  test("runningTopK: streamed leaderboard converges to the batch stream_topk plan") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[graft.model.Event]
    val q = Streams.runningTopK(ms.toDS(), k = 3).writeStream
      .format("memory").queryName("topk_out").outputMode("update").start()
    // feed out of order across batches; a null value must never rank
    ms.addData(Seq(ev(1, "2024-01-01 10:00:00", 7, "a", 5.0),
      ev(2, "2024-01-01 10:01:00", 8, "a", 9.0),
      ev(3, "2024-01-01 10:02:00", 7, "b", 1.0)))
    q.processAllAvailable()
    ms.addData(Seq(ev(4, "2024-01-01 10:03:00", 9, "a", 7.0),
      graft.model.Event(5, java.sql.Timestamp.valueOf("2024-01-01 10:04:00"),
        9, "a", None, "{}"),
      ev(6, "2024-01-01 10:05:00", 9, "a", 9.0))) // ties 9.0: id 2 before 6
    q.processAllAvailable(); q.stop()
    // last leaderboard emitted per key (update mode re-emits on change)
    val all = spark.table("topk_out")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    val lastA = all.filter(_._1 == "a").takeRight(3).toSeq
    assert(lastA == Seq(("a", 1, 2L, 9.0), ("a", 2, 6L, 9.0), ("a", 3, 4L, 7.0)))
    // and the same comparator as the batch aggregate on identical rows
    graft.functions.VectorFunctions.register(spark)
    val batch = Seq((5.0, 1L), (9.0, 2L), (7.0, 4L), (9.0, 6L)).toDF("value", "event_id")
      .agg(graft.functions.VectorFunctions.topk_by($"value", $"event_id", 3).as("nn"))
      .select(org.apache.spark.sql.functions.posexplode($"nn").as(Seq("pos", "e")))
      .select($"e.id", $"e.ord")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(batch == lastA.map(t => (t._3, t._4)))
  }

  test("flatMapGroupsWithState emits one alert per threshold crossing") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[graft.model.Event]
    val q = Streams.thresholdAlerts(ms.toDS()).writeStream
      .format("memory").queryName("alerts_out").outputMode("append").start()
    ms.addData(Seq(ev(1, "2024-01-01 10:00:00", 7, "a", 60.0)))  // total 60: none
    q.processAllAvailable()
    ms.addData(Seq(ev(2, "2024-01-01 10:01:00", 7, "a", 150.0))) // 210: cross 100, 200
    q.processAllAvailable()
    ms.addData(Seq(ev(3, "2024-01-01 10:02:00", 7, "a", 10.0)))  // 220: none
    q.processAllAvailable(); q.stop()
    val alerts = spark.table("alerts_out")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(alerts == Seq((7L, 100L), (7L, 200L)))
  }

  test("transformWithState matches mapGroupsWithState batch-for-batch") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // transformWithState requires the RocksDB state store provider
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val ms = MemoryStream[graft.model.Event]
      val q = Streams.runningUserTotalsV2(ms.toDS()).writeStream
        .format("memory").queryName("tws_out").outputMode("update").start()
      ms.addData(Seq(ev(1, "2024-01-01 10:00:00", 7, "a", 1.0),
        ev(2, "2024-01-01 10:01:00", 7, "a", 2.0)))
      q.processAllAvailable()
      ms.addData(Seq(ev(3, "2024-01-01 10:02:00", 7, "a", 4.0),
        ev(4, "2024-01-01 10:02:30", 9, "b", 5.0)))
      q.processAllAvailable(); q.stop()
      val rows = spark.table("tws_out")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      // same emissions the mapGroupsWithState form produces on this input
      assert(rows == Set((7L, 2L, 3.0), (7L, 3L, 7.0), (9L, 1L, 5.0)))
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("warm-start: stream continues totals from a batch backfill exactly") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.sql.functions._
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      // history (already in the warehouse) vs live tail (the stream)
      val history = Seq(
        ev(1, "2024-01-01 09:00:00", 7, "a", 1.0),
        ev(2, "2024-01-01 09:10:00", 7, "a", 2.0),
        ev(3, "2024-01-01 09:20:00", 9, "b", 10.0))
      val live = Seq(
        ev(4, "2024-01-01 10:00:00", 7, "a", 4.0),
        ev(5, "2024-01-01 10:01:00", 9, "b", 5.0),
        ev(6, "2024-01-01 10:02:00", 11, "c", 8.0)) // key with NO backfill
      val backfill = history.toDS()
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n"), sum(expr("coalesce(value, 0.0)")).as("s"))
        .as[(Long, Long, Double)]
      val ms = MemoryStream[graft.model.Event]
      val q = Streams.runningUserTotalsWarmStart(ms.toDS(), backfill)
        .writeStream.format("memory").queryName("warm_out")
        .outputMode("update").start()
      ms.addData(live); q.processAllAvailable(); q.stop()
      val got = spark.table("warm_out")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      // every emitted total equals the batch aggregate over history+live
      assert(got == Set((7L, 3L, 7.0), (9L, 2L, 15.0), (11L, 1L, 8.0)),
        s"warm-start totals wrong: $got")
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("timers close sessions when the watermark passes, not when data arrives") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val ms = MemoryStream[graft.model.Event]
      val q = Streams.timedSessions(ms.toDS(), gapMinutes = 30).writeStream
        .format("memory").queryName("timed_sessions").outputMode("append").start()
      // batch 1: two users, sessions still open — nothing may emit
      ms.addData(Seq(
        ev(1, "2024-01-01 10:00:00", 1, "a", 1.0),
        ev(2, "2024-01-01 10:05:00", 1, "a", 2.0),
        ev(3, "2024-01-01 10:00:00", 2, "b", 8.0)))
      q.processAllAvailable()
      assert(spark.table("timed_sessions").count() == 0L,
        "sessions emitted before their timers expired")
      // batch 2: one late-morning event pushes the watermark past both
      // timers (12:00 − 10 min wm delay = 11:50 > 10:35/10:30) — both
      // buffered sessions close via handleExpiredTimer; the new event
      // opens a fresh, still-unflushed session for user 2
      ms.addData(Seq(ev(4, "2024-01-01 12:00:00", 2, "b", 16.0)))
      q.processAllAvailable()
      // a third batch so the no-data watermark tick runs the timer sweep
      ms.addData(Seq(ev(5, "2024-01-01 12:01:00", 2, "b", 0.5)))
      q.processAllAvailable(); q.stop()
      val rows = spark.table("timed_sessions")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(rows == Set((1L, 2L, 3.0), (2L, 1L, 8.0)), rows)
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("stream-stream interval join: clicks pair with preceding views only") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val clicks = MemoryStream[graft.model.Event]
    val views = MemoryStream[graft.model.Event]
    val q = Streams.clickViewJoin(clicks.toDF(), views.toDF()).writeStream
      .format("memory").queryName("ssj_out").outputMode("append").start()
    views.addData(Seq(
      ev(100, "2024-01-01 10:00:00", 7, "view", 0.0),  // 3 min before click: joins
      ev(101, "2024-01-01 09:50:00", 7, "view", 0.0),  // 13 min before: outside interval
      ev(102, "2024-01-01 10:04:00", 8, "view", 0.0))) // other user
    clicks.addData(Seq(
      ev(200, "2024-01-01 10:03:00", 7, "click", 0.0),
      ev(201, "2024-01-01 10:05:00", 9, "click", 0.0))) // user 9: no views
    q.processAllAvailable(); q.stop()
    val pairs = spark.table("ssj_out")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(pairs == Set((7L, 200L, 100L)))
  }

  test("timer sessions == batch gaps-and-islands on randomized event sets") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.sql.functions._
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val rng = new scala.util.Random(7)
      // 3 users × ~12 events over 6 hours, random gaps straddling the
      // 30-min session boundary. Delivery: time-contiguous micro-batches
      // with arbitrary order INSIDE each batch — disorder within the
      // watermark's tolerance. (A global shuffle would make most events
      // late beyond the 10-min watermark, and append mode rightly drops
      // those — that regime is covered by the late-data spec, not this
      // equivalence.)
      val rows = (1 to 3).flatMap { u =>
        var t = 0L
        (1 to 12).map { i =>
          t += 60L + rng.nextInt(80) * 60L // 1..81 min gaps
          ev(u * 100L + i, "2024-01-01 00:00:00", u.toLong, "e", i.toDouble)
            .copy(ts = new Timestamp(
              Timestamp.valueOf("2024-01-01 00:00:00").getTime + t * 1000))
        }
      }
      val ordered = rows.sortBy(_.ts.getTime)
      val ms = MemoryStream[graft.model.Event]
      val q = Streams.timedSessions(ms.toDS(), gapMinutes = 30).writeStream
        .format("memory").queryName("timed_rand").outputMode("append").start()
      ordered.grouped(ordered.size / 3 + 1).foreach { b =>
        ms.addData(rng.shuffle(b)); q.processAllAvailable()
      }
      // flush: one far-future event per user pushes every watermark past
      // all timers; run two ticks so the sweep sees the new watermark
      ms.addData((1 to 3).map(u =>
        ev(9000L + u, "2024-02-01 00:00:00", u.toLong, "flush", 0.0)))
      q.processAllAvailable()
      ms.addData(Seq(ev(9100L, "2024-02-01 00:01:00", 1L, "flush", 0.0)))
      q.processAllAvailable(); q.stop()
      val streamed = spark.table("timed_rand")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSeq.sorted
      // batch reference: gap > 30 min starts a new session (flush
      // events excluded — their sessions are still open)
      val batch = rows.toDF()
        .withColumn("brk", when(unix_micros(col("ts")) -
          unix_micros(lag(col("ts"), 1).over(
            org.apache.spark.sql.expressions.Window.partitionBy(col("user_id"))
              .orderBy(col("ts")))) > 30L * 60 * 1000000, 1L).otherwise(0L))
        .withColumn("sess", sum(col("brk")).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("user_id"))
            .orderBy(col("ts"))
            .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
              org.apache.spark.sql.expressions.Window.currentRow)))
        .groupBy(col("user_id"), col("sess"))
        .agg(count(lit(1)).as("n"), sum(col("value")).as("sv"))
        .collect().map(r => (r.getLong(0), r.getLong(2), r.getDouble(3)))
        .toSeq.sorted
      assert(streamed == batch,
        s"streamed ${streamed.size} sessions != batch ${batch.size}:\n" +
          s"missing=${batch.diff(streamed)}\nextra=${streamed.diff(batch)}")
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("left-outer stream-stream join: unmatched clicks null-pad after the watermark") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val clicks = MemoryStream[graft.model.Event]
    val views = MemoryStream[graft.model.Event]
    val q = Streams.clickViewJoinLeftOuter(clicks.toDF(), views.toDF())
      .writeStream.format("memory").queryName("ssj_outer")
      .outputMode("append").start()
    views.addData(Seq(ev(100, "2024-01-01 10:00:00", 7, "view", 0.0)))
    clicks.addData(Seq(
      ev(200, "2024-01-01 10:03:00", 7, "click", 0.0),  // matched
      ev(201, "2024-01-01 10:05:00", 9, "click", 0.0))) // never matched
    q.processAllAvailable()
    // matched row may emit now; the null-padded row must NOT exist yet
    // (a matching view inside the watermark could still arrive)
    val early = spark.table("ssj_outer")
      .filter(col("view_id").isNull).count()
    assert(early == 0L, "null-padded row emitted before the watermark sealed it")
    // advance both watermarks far past click+bound; two ticks so the
    // outer-join state sweep runs with the new watermark
    views.addData(Seq(ev(102, "2024-01-01 12:00:00", 8, "view", 0.0)))
    clicks.addData(Seq(ev(202, "2024-01-01 12:00:00", 8, "click", 0.0)))
    q.processAllAvailable()
    clicks.addData(Seq(ev(203, "2024-01-01 12:01:00", 8, "click", 0.0)))
    views.addData(Seq(ev(103, "2024-01-01 12:01:00", 8, "view", 0.0)))
    q.processAllAvailable(); q.stop()
    val rows = spark.table("ssj_outer")
      .collect().map(r => (r.getLong(1), Option(r.get(2)).map(_.asInstanceOf[Long])))
      .toMap
    assert(rows(200L).contains(100L), rows)
    assert(rows.contains(201L) && rows(201L).isEmpty,
      s"unmatched click 201 missing or matched: $rows")
  }

  test("interval join: streamed result equals the batch-shared plan (bound 240)") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rows = Seq(
      ev(1, "2024-01-01 08:00:00", 7, "view", 0.0),   // 2 h before click 2: joins
      ev(2, "2024-01-01 10:00:00", 7, "click", 0.0),
      ev(3, "2024-01-01 15:00:00", 7, "click", 0.0),  // 7 h after the view: outside
      ev(4, "2024-01-01 09:00:00", 8, "view", 0.0),
      ev(5, "2024-01-01 09:30:00", 8, "click", 0.0),
      ev(6, "2024-01-01 12:00:00", 9, "click", 0.0))  // no views for user 9
    def shape(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long)] =
      df.select($"user_id", $"click_id", $"view_id")
        .as[(Long, Long, Long)].collect().toSet
    val batchDf = rows.toDF()
    val batch = shape(Streams.clickViewJoin(
      batchDf.filter($"event_type" === "click"),
      batchDf.filter($"event_type" === "view"), boundMinutes = 240))
    val clicks = MemoryStream[graft.model.Event]
    val views = MemoryStream[graft.model.Event]
    val q = Streams.clickViewJoin(
        clicks.toDF().filter($"event_type" === "click"),
        views.toDF().filter($"event_type" === "view"), boundMinutes = 240)
      .writeStream.format("memory").queryName("ssj240_out")
      .outputMode("append").start()
    clicks.addData(rows); views.addData(rows)
    q.processAllAvailable(); q.stop()
    val streamed = shape(spark.table("ssj240_out"))
    assert(streamed == batch)
    assert(batch == Set((7L, 2L, 1L), (8L, 5L, 4L)))
  }

  test("scheduledRefresh: AvailableNow drain + commit-if-changed idempotence") {
    import spark.implicits._
    val src = Files.createTempDirectory("graft_src").toString
    val out = Files.createTempDirectory("graft_out").toString
    val ckp = Files.createTempDirectory("graft_ckp").toString
    val rows = Seq(
      ev(1, "2024-01-01 10:00:00", 1, "click", 1.0),
      ev(2, "2024-01-01 10:30:00", 2, "view", 2.0))
    rows.toDF().write.mode("overwrite").parquet(src)

    val q1 = Streams.scheduledRefresh(spark, src, out, ckp)
    q1.awaitTermination()
    assert(spark.read.parquet(out).count() == 2)

    // second run, same checkpoint, no new data: no duplication
    val q2 = Streams.scheduledRefresh(spark, src, out, ckp)
    q2.awaitTermination()
    assert(spark.read.parquet(out).count() == 2)

    // a newly landed file RE-DELIVERS row 1 alongside new row 3: only the
    // delta (row 3) may be appended, not the whole batch
    Seq(rows.head, ev(3, "2024-01-01 11:00:00", 3, "purchase", 3.0))
      .toDF().write.mode("append").parquet(src)
    val q3 = Streams.scheduledRefresh(spark, src, out, ckp)
    q3.awaitTermination()
    val ids = spark.read.parquet(out).select("event_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(ids == Seq(1L, 2L, 3L), s"got $ids")
  }

  test("publishPartitions: micro-batches rewrite only the partitions they touch") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft_pubpart").toString
    val out = s"$base/table"
    // pre-existing serving table: one 2023 partition, one 2024 partition
    Seq(ev(1, "2023-06-01 10:00:00", 1, "a", 1.0),
      ev(2, "2024-06-01 10:00:00", 1, "a", 2.0))
      .toDF().withColumn("yr", org.apache.spark.sql.functions.year($"ts"))
      .write.partitionBy("yr").parquet(out)
    def files(p: String) = Option(new java.io.File(p).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
      .map(f => (f.getName, f.length(), f.lastModified())).toSet
    val before2023 = files(s"$out/yr=2023")
    assert(before2023.nonEmpty)

    // stream only 2024 data: the 2024 partition is replaced, 2023 untouched
    val ms = MemoryStream[graft.model.Event]
    ms.addData(Seq(ev(3, "2024-07-01 10:00:00", 2, "b", 3.0),
      ev(4, "2024-08-01 10:00:00", 2, "b", 4.0)))
    Streams.publishPartitions(spark, ms.toDF(), out, s"$base/ckpt1")
      .awaitTermination(60000)
    assert(files(s"$out/yr=2023") == before2023, "untouched partition rewritten")
    val got = spark.read.parquet(out)
      .select("event_id", "yr").collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(got == Set((1L, 2023), (3L, 2024), (4L, 2024)), s"got $got")

    // replaying the same rows through a fresh checkpoint is idempotent:
    // same partitions rewritten to the same logical content, no dupes
    val ms2 = MemoryStream[graft.model.Event]
    ms2.addData(Seq(ev(3, "2024-07-01 10:00:00", 2, "b", 3.0),
      ev(4, "2024-08-01 10:00:00", 2, "b", 4.0)))
    Streams.publishPartitions(spark, ms2.toDF(), out, s"$base/ckpt2")
      .awaitTermination(60000)
    val again = spark.read.parquet(out)
      .select("event_id", "yr").collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(again == got)
    assert(files(s"$out/yr=2023") == before2023)
  }

  test("asofEnrich: streamed probes get the same last_value as batch AsOf") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val series = Seq(
      (1L, Timestamp.valueOf("2024-01-01 10:00:00"), 1L, 10.0),
      (1L, Timestamp.valueOf("2024-01-01 11:00:00"), 2L, 11.0),
      (2L, Timestamp.valueOf("2024-01-01 10:30:00"), 3L, 20.0)
    ).toDF("user_id", "ts", "event_id", "value")
    val probes = Seq(
      (1L, Timestamp.valueOf("2024-01-01 10:30:00")),
      (1L, Timestamp.valueOf("2024-01-01 12:00:00")),
      (2L, Timestamp.valueOf("2024-01-01 10:00:00")))
    val ms = MemoryStream[(Long, Timestamp)]
    ms.addData(probes)
    val ckp = Files.createTempDirectory("graft_asof_ckp").toString
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Option[Double])]
    val q = Streams.asofEnrich(
      ms.toDF().toDF("user_id", "ts"), series,
      "user_id", "ts", "event_id", "value", ckp) { enriched =>
      got ++= enriched.collect().map(r =>
        (r.getLong(0), Option(r.get(2)).map(_.asInstanceOf[Double])))
    }
    q.awaitTermination()
    val expected = graft.plans.AsOf.joinBackward(
        probes.toDF("user_id", "ts"), series, "user_id", "ts", "event_id", "value")
      .collect().map(r => (r.getLong(0), Option(r.get(2)).map(_.asInstanceOf[Double])))
    assert(got.sortBy(x => (x._1, x._2)) == expected.sortBy(x => (x._1, x._2)).toBuffer)
  }

  test("serveProbes: streamed ANN answers equal the batch serve, replay-stable") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val sf = TestSpark.sf0001
    val e = graft.Tables.embeddings(spark, sf)
    val dir = "target/tmp/ivf_index_stream"
    graft.ext.SimSearch.buildIvfIndexPinned(e, dir)
    val probes = e.filter("vec_id < 6")
      .selectExpr("vec_id AS probe_id", "embedding AS probe")
    val probeRows = probes.as[(Long, Array[Float])].collect().toSeq
    val ms = MemoryStream[(Long, Array[Float])]
    // two micro-batches: the index must serve both without retraining
    ms.addData(probeRows.take(3))
    ms.addData(probeRows.drop(3))
    val ckp = Files.createTempDirectory("graft_serve_ckp").toString
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Int, Long)]
    val q = Streams.serveProbes(
      ms.toDF().toDF("probe_id", "probe"), dir, ckp) { served =>
      got ++= served.collect().map(r =>
        (r.getLong(0), r.getInt(1), r.getLong(2)))
    }
    q.awaitTermination()
    val expected = graft.ext.SimSearch.servedTopKPinned(spark, dir, probes)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    assert(got.sorted == expected.sorted.toBuffer,
      "streamed serve must equal the batch serve on the same index")
  }

  test("dedupDeltas: streamed incremental clusters == full recompute, replay-idempotent") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val docsDf = graft.Tables.documents(spark, TestSpark.sf0001)
      .select(col("doc_id"), col("text"))
    val docRows = docsDf.as[(Long, String)].collect().toSeq.sortBy(_._1)
    val (first, second) = docRows.splitAt(docRows.size / 2)
    val store = Files.createTempDirectory("graft_dedup_store").toString
    val ckp = Files.createTempDirectory("graft_dedup_ckp").toString
    val ms = MemoryStream[(Long, String)]
    // two SEPARATE AvailableNow drains over one checkpoint — the cron
    // shape (day 1 backfill, day 2 delta), which guarantees the second
    // batch really does band against a SAVED store (a single AvailableNow
    // run may coalesce MemoryStream blocks into one micro-batch)
    var last: Seq[(Long, Long)] = Nil
    val sink = (assigned: org.apache.spark.sql.DataFrame) =>
      last = assigned.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    ms.addData(first)
    Streams.epochDeltas(ms.toDF().toDF("doc_id", "text"), ckp)(
      graft.ext.Dedup.dedupDelta(_, store, _))(sink)
      .awaitTermination()
    ms.addData(second)
    Streams.epochDeltas(ms.toDF().toDF("doc_id", "text"), ckp)(
      graft.ext.Dedup.dedupDelta(_, store, _))(sink)
      .awaitTermination()
    // contract: delta-computed clusters ≡ the full plain-bucket-pair
    // recompute over everything streamed so far (same comparator as the
    // batch dedup_minhash_incremental oracle)
    val full = graft.ext.Dedup.md5PairClusters(docsDf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(last.nonEmpty && last == full,
      "streamed incremental assignment diverged from the full recompute")
    // replay idempotence: re-deliver the FINAL epoch's exact content
    // (foreachBatch's at-least-once contract re-sends the same rows for
    // the same epoch id) — the store partitions are rewritten with
    // identical rows and the assignment must not change. The epoch's
    // true content comes from the store itself, since AvailableNow is
    // free to coalesce MemoryStream blocks into fewer micro-batches.
    val lastEpoch = spark.read.parquet(s"$store/pairs")
      .agg(org.apache.spark.sql.functions.max(col("epoch").cast("long")))
      .head().getLong(0)
    val lastBatch = spark.read.parquet(s"$store/docs/epoch=$lastEpoch")
      .select("doc_id", "text").localCheckpoint()
    val replayed = graft.ext.Dedup.dedupDelta(lastBatch, store, lastEpoch)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(replayed == full, "a replayed epoch changed the assignment")
  }

  test("substrDedupDeltas: streamed span dedup == batch pass, reach-back included") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val docsDf = graft.Tables.documents(spark, TestSpark.sf0001)
      .select(col("doc_id"), col("text"))
    val docRows = docsDf.as[(Long, String)].collect().toSeq.sortBy(_._1)
    val (first, second) = docRows.splitAt(docRows.size / 2)
    val store = Files.createTempDirectory("graft_substr_store").toString
    val ckp = Files.createTempDirectory("graft_substr_ckp").toString
    val ms = MemoryStream[(Long, String)]
    var last: Seq[(Long, Long, Long, String)] = Nil
    val sink = (served: org.apache.spark.sql.DataFrame) =>
      last = served.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
        .toSeq
    // two separate AvailableNow drains over one checkpoint (the cron
    // shape) so the second batch really grams against a SAVED store
    ms.addData(first)
    Streams.epochDeltas(ms.toDF().toDF("doc_id", "text"), ckp)(
      graft.ext.SubstrDedup.substrDedupDelta(_, store, _))(sink)
      .awaitTermination()
    ms.addData(second)
    Streams.epochDeltas(ms.toDF().toDF("doc_id", "text"), ckp)(
      graft.ext.SubstrDedup.substrDedupDelta(_, store, _))(sink)
      .awaitTermination()
    val full = graft.ext.SubstrDedup
      .removeDuplicatedSpans(docsDf, "doc_id", "text")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .toSeq.sortBy(_._1)
    assert(last.nonEmpty && last.sortBy(_._1) == full,
      "streamed span dedup diverged from the batch pass")
    // replay the final epoch's exact content: serve must not change
    val lastEpoch = spark.read.parquet(s"$store/res")
      .agg(org.apache.spark.sql.functions.max(col("epoch").cast("long")))
      .head().getLong(0)
    val lastBatch = spark.read.parquet(s"$store/docs/epoch=$lastEpoch")
      .select("doc_id", "text").localCheckpoint()
    val replayed = graft.ext.SubstrDedup
      .substrDedupDelta(lastBatch, store, lastEpoch)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .toSeq.sortBy(_._1)
    assert(replayed == full, "a replayed epoch changed the served rows")
  }

  test("bm25Deltas / centroidDeltas: streamed serve == batch keys") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val sf = TestSpark.sf0001
    // BM25: stream the corpus in two drains, serve must equal the
    // batch text_bm25 key over the full corpus
    val docsDf = graft.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"))
    val docRows = docsDf.as[(Long, String)].collect().toSeq.sortBy(_._1)
    val (d1, d2) = docRows.splitAt(docRows.size / 2)
    val bStore = Files.createTempDirectory("graft_bm25_store").toString
    val bCkp = Files.createTempDirectory("graft_bm25_ckp").toString
    val bms = MemoryStream[(Long, String)]
    var bLast: Seq[Seq[Any]] = Nil
    val bSink = (df: org.apache.spark.sql.DataFrame) =>
      bLast = df.collect().map(_.toSeq).toSeq
    bms.addData(d1)
    Streams.epochDeltas(bms.toDF().toDF("doc_id", "text"), bCkp)(
      graft.ops.EvalExtra.bm25Delta(_, bStore, _))(bSink)
      .awaitTermination()
    bms.addData(d2)
    Streams.epochDeltas(bms.toDF().toDF("doc_id", "text"), bCkp)(
      graft.ops.EvalExtra.bm25Delta(_, bStore, _))(bSink)
      .awaitTermination()
    val bBatch = SparkEntry.queries("text_bm25")(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(bLast.nonEmpty && bLast == bBatch,
      "streamed BM25 serve diverged from the batch key")
    // centroids: same shape over the embeddings stream
    val e = graft.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("label"), col("embedding"))
    val eRows = e.as[(Long, Long, Array[Float])].collect().toSeq
      .sortBy(_._1)
    val (e1, e2) = eRows.splitAt(eRows.size / 2)
    val cStore = Files.createTempDirectory("graft_centroid_store").toString
    val cCkp = Files.createTempDirectory("graft_centroid_ckp").toString
    val ems = MemoryStream[(Long, Long, Array[Float])]
    var cLast: Seq[Seq[Any]] = Nil
    val cSink = (df: org.apache.spark.sql.DataFrame) =>
      cLast = df.collect().map(_.toSeq).toSeq
    ems.addData(e1)
    Streams.epochDeltas(ems.toDF().toDF("vec_id", "label", "embedding"), cCkp)(
      graft.ext.SimSearch.centroidDelta(_, cStore, _))(cSink)
      .awaitTermination()
    ems.addData(e2)
    Streams.epochDeltas(ems.toDF().toDF("vec_id", "label", "embedding"), cCkp)(
      graft.ext.SimSearch.centroidDelta(_, cStore, _))(cSink)
      .awaitTermination()
    val cBatch = SparkEntry.queries("emb_centroid_by_label")(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(cLast.nonEmpty && cLast == cBatch,
      "streamed centroid serve diverged from the batch key")
  }

  test("audioFpDeltas: streamed content-ID matches == batch audio dedup, replay-idempotent") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val docsDf = graft.Tables.documents(spark, TestSpark.sf0001)
      .select(col("doc_id"), col("text"))
    val docRows = docsDf.as[(Long, String)].collect().toSeq.sortBy(_._1)
    val (first, second) = docRows.splitAt(docRows.size / 2)
    val store = Files.createTempDirectory("graft_audiofp_store").toString
    val ckp = Files.createTempDirectory("graft_audiofp_ckp").toString
    val ms = MemoryStream[(Long, String)]
    var last: Seq[(Long, Long, Int, Long)] = Nil
    val sink = (m: org.apache.spark.sql.DataFrame) =>
      last = m.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3))).toSeq
    // two SEPARATE AvailableNow drains over one checkpoint (the cron
    // shape) so the second batch really matches against a SAVED store
    ms.addData(first)
    Streams.epochDeltas(ms.toDF().toDF("doc_id", "text"), ckp)(
      graft.ext.Audio.audioFpDelta(_, store, _))(sink)
      .awaitTermination()
    ms.addData(second)
    Streams.epochDeltas(ms.toDF().toDF("doc_id", "text"), ckp)(
      graft.ext.Audio.audioFpDelta(_, store, _))(sink)
      .awaitTermination()
    // contract: the union of per-epoch delta-involving match rows ≡ the
    // batch mm_audio_dedup over everything streamed so far
    val full = SparkEntry.queries("mm_audio_dedup")(spark, TestSpark.sf0001)
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3))).toSeq
    assert(full.nonEmpty, "batch audio dedup found no pairs — fixture degenerate")
    assert(last == full,
      "streamed content-ID matches diverged from the batch audio dedup")
    // replay idempotence: re-deliver the final epoch's exact content
    val lastEpoch = spark.read.parquet(s"$store/fps")
      .agg(org.apache.spark.sql.functions.max(col("epoch").cast("long")))
      .head().getLong(0)
    val lastDocIds = spark.read.parquet(s"$store/fps/epoch=$lastEpoch")
      .select("doc_id").distinct()
      .collect().map(_.getLong(0)).toSet
    val lastBatch = docsDf
      .filter(col("doc_id").isin(lastDocIds.toSeq: _*)).localCheckpoint()
    val replayed = graft.ext.Audio.audioFpDelta(lastBatch, store, lastEpoch)
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3))).toSeq
    assert(replayed == full, "a replayed epoch changed the match table")
    // CROSS-epoch re-delivery (ADVICE r11): the same docs arriving under
    // a NEW epoch must not re-fingerprint or double-count votes — the
    // anti-join against prior epochs' doc_ids makes it a no-op
    val redelivered = graft.ext.Audio.audioFpDelta(lastBatch, store, lastEpoch + 1)
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3))).toSeq
    assert(redelivered == full,
      "cross-epoch re-delivery changed the match table")
    assert(spark.read.parquet(s"$store/fps").select("doc_id", "anchor", "fp")
      .count() == spark.read.parquet(s"$store/fps")
      .select("doc_id", "anchor", "fp").distinct().count(),
      "cross-epoch re-delivery duplicated fingerprint store rows")
  }

  test("knnGraphDeltas: streamed graph append == batch append, replay-idempotent") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    graft.functions.VectorFunctions.register(spark)
    val sf = TestSpark.sf0001
    val e = graft.Tables.embeddings(spark, sf)
    val store = Files.createTempDirectory("graft_gann_store").toString
    val ckp = Files.createTempDirectory("graft_gann_ckp").toString
    // day-0 backfill: the even-id half is the saved base — exactly the
    // batch key's split, so the streamed result must match it
    graft.ext.SimSearch.knnGraphStoreSeed(
      e.filter("vec_id <> 0 AND vec_id % 2 = 0"), store)
    val odd = e.filter("vec_id <> 0 AND vec_id % 2 = 1")
      .select("vec_id", "label", "embedding")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getSeq[Float](2)))
      .toSeq
    val ms = MemoryStream[(Long, Int, Seq[Float])]
    var merged: Seq[(Long, Long)] = Nil
    val sink = (g: org.apache.spark.sql.DataFrame) =>
      merged = g.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    ms.addData(odd)
    Streams.epochDeltas(ms.toDF().toDF("vec_id", "label", "embedding"), ckp)(
      graft.ext.SimSearch.knnGraphDelta(_, store, _))(sink).awaitTermination()
    assert(merged.nonEmpty, "the sink never received a merged edge list")
    val probe = e.filter("vec_id = 0").select("embedding")
    val served = graft.ext.SimSearch.serveFromGraphStore(spark, store, probe)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val batchKey = SparkEntry.queries("sim_search_knn_graph_append")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(served == batchKey,
      "streamed-append serve diverged from the batch sim_search_knn_graph_append")
    // replay idempotence: re-deliver the final epoch's exact content —
    // the store partitions are rewritten with identical rows and neither
    // the merged edge list nor the served answer may change
    val lastEpoch = spark.read.parquet(s"$store/edges")
      .agg(org.apache.spark.sql.functions.max(col("epoch").cast("long")))
      .head().getLong(0)
    val lastBatch = spark.read.parquet(s"$store/vecs/epoch=$lastEpoch")
      .select("vec_id", "label", "embedding").localCheckpoint()
    val replayed = graft.ext.SimSearch.knnGraphDelta(lastBatch, store, lastEpoch)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(replayed == merged, "a replayed epoch changed the merged graph")
    val servedAgain = graft.ext.SimSearch
      .serveFromGraphStore(spark, store, probe)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(servedAgain == served, "a replayed epoch changed the served answer")
  }

  test("hnswDeltas: streamed 2-layer append, replay-idempotent, servable") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    graft.functions.VectorFunctions.register(spark)
    val sf = TestSpark.sf0001
    val e = graft.Tables.embeddings(spark, sf)
    val store = Files.createTempDirectory("graft_hnsw_dstore").toString
    val ckp = Files.createTempDirectory("graft_hnsw_dckp").toString
    graft.ext.SimSearch.hnswStoreSeed(
      e.filter("vec_id <> 0 AND vec_id % 2 = 0"), store, levels = 1)
    val odd = e.filter("vec_id <> 0 AND vec_id % 2 = 1")
      .select("vec_id", "embedding")
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq
    val ms = MemoryStream[(Long, Seq[Float])]
    var merged: Seq[(Long, Long)] = Nil
    val sink = (g: org.apache.spark.sql.DataFrame) =>
      merged = g.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    ms.addData(odd)
    Streams.epochDeltas(ms.toDF().toDF("vec_id", "embedding"), ckp)(
      graft.ext.SimSearch.hnswDelta(_, store, _))(sink).awaitTermination()
    assert(merged.nonEmpty, "the sink never received a merged edge list")
    // both layers took the epoch's append (the upper slice is the md5
    // coin's ~25% of the delta — nonempty at this corpus size)
    val l1Epochs = spark.read.parquet(s"$store/l1")
      .select("epoch").distinct().collect().map(_.get(0).toString).toSet
    assert(l1Epochs.size >= 2, s"upper layer missing the delta epoch: $l1Epochs")
    // the merged store serves the hierarchical descent
    val probe = e.filter("vec_id = 0").select("embedding")
    val served = graft.ext.SimSearch.serveHnswFromStore(spark, store, probe)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(served.size == 10, s"served ${served.size} rows")
    // replay idempotence: re-deliver the final epoch's exact content
    val lastEpoch = spark.read.parquet(s"$store/l0")
      .agg(org.apache.spark.sql.functions.max(col("epoch").cast("long")))
      .head().getLong(0)
    val lastBatch = spark.read.parquet(s"$store/vecs/epoch=$lastEpoch")
      .select("vec_id", "embedding").localCheckpoint()
    val replayed = graft.ext.SimSearch.hnswDelta(lastBatch, store, lastEpoch)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(replayed == merged, "a replayed epoch changed the merged graph")
    val servedAgain = graft.ext.SimSearch.serveHnswFromStore(spark, store, probe)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(servedAgain == served, "a replayed epoch changed the served answer")
  }

  test("corpusCleanDeltas: streamed multimodal assembly == batch key, replay-idempotent") {
    // the composed training-set pipeline run incrementally: epoch 0
    // (even doc_ids) arrives through the stream wrapper, epoch 1 (odd)
    // through a direct delta call; the union of epochs must equal the
    // batch corpus_clean_multimodal key, and both a same-epoch replay
    // and a cross-epoch re-delivery must change nothing
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val sf = TestSpark.sf0001
    val docs = graft.Tables.documents(spark, sf)
      .select("doc_id", "lang", "n_chars", "text")
    val store = Files.createTempDirectory("graft_mm_dstore").toString
    val ckp = Files.createTempDirectory("graft_mm_dckp").toString
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getString(3)))
        .toSeq
    val even = docs.filter("doc_id % 2 = 0").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getString(3)))
      .toSeq
    val ms = MemoryStream[(Long, String, Long, String)]
    var out: Seq[(Long, String, Long, String)] = Nil
    val sink = (g: org.apache.spark.sql.DataFrame) => out = rows(g)
    ms.addData(even)
    Streams.epochDeltas(ms.toDF().toDF("doc_id", "lang", "n_chars", "text"), ckp)(
      graft.ext.Multimodal.corpusCleanMultimodalDelta(_, store, _))(sink)
      .awaitTermination()
    assert(out.nonEmpty, "the sink never received a survivor set")
    val odd = docs.filter("doc_id % 2 = 1").localCheckpoint()
    val streamed = rows(
      graft.ext.Multimodal.corpusCleanMultimodalDelta(odd, store, 1L))
    val batchKey = rows(
      SparkEntry.queries("corpus_clean_multimodal")(spark, sf))
    assert(batchKey.nonEmpty && streamed == batchKey,
      "incremental multimodal assembly diverged from the batch key")
    // same-epoch replay: partitions rewrite with identical rows
    val replayed = rows(
      graft.ext.Multimodal.corpusCleanMultimodalDelta(odd, store, 1L))
    assert(replayed == batchKey, "a replayed epoch changed the survivor set")
    // cross-epoch re-delivery: already-seen docs anti-join away
    val redelivered = rows(
      graft.ext.Multimodal.corpusCleanMultimodalDelta(odd, store, 2L))
    assert(redelivered == batchKey,
      "cross-epoch re-delivery changed the survivor set")
  }

  test("hnswMultiDeltas: streamed level-stack append, replay-idempotent, servable") {
    // the L-layer twin of the hnswDeltas test: every admitted layer
    // takes the epoch's append, the store serves the multi descent, and
    // a replayed epoch changes nothing
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    graft.functions.VectorFunctions.register(spark)
    val sf = TestSpark.sf0001
    val e = graft.Tables.embeddings(spark, sf)
    val store = Files.createTempDirectory("graft_hnswm_dstore").toString
    val ckp = Files.createTempDirectory("graft_hnswm_dckp").toString
    graft.ext.SimSearch.hnswStoreSeed(
      e.filter("vec_id <> 0 AND vec_id % 2 = 0"), store, levels = 3)
    val odd = e.filter("vec_id <> 0 AND vec_id % 2 = 1")
      .select("vec_id", "embedding")
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq
    val ms = MemoryStream[(Long, Seq[Float])]
    var merged: Seq[(Long, Long)] = Nil
    val sink = (g: org.apache.spark.sql.DataFrame) =>
      merged = g.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    ms.addData(odd)
    Streams.epochDeltas(ms.toDF().toDF("vec_id", "embedding"), ckp)(
      graft.ext.SimSearch.hnswDelta(_, store, _))(sink).awaitTermination()
    assert(merged.nonEmpty, "the sink never received a merged edge list")
    // layer 1 took the epoch's append (deeper layers thin geometrically
    // — at 250 seed vectors layer 3 may legitimately receive no delta)
    val l1Epochs = spark.read.parquet(s"$store/l1")
      .select("epoch").distinct().collect().map(_.get(0).toString).toSet
    assert(l1Epochs.size >= 2, s"layer 1 missing the delta epoch: $l1Epochs")
    val probe = e.filter("vec_id = 0").select("embedding")
    val served = graft.ext.SimSearch.serveHnswFromStore(spark, store, probe)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(served.size == 10, s"served ${served.size} rows")
    val lastEpoch = spark.read.parquet(s"$store/l0")
      .agg(org.apache.spark.sql.functions.max(col("epoch").cast("long")))
      .head().getLong(0)
    val lastBatch = spark.read.parquet(s"$store/vecs/epoch=$lastEpoch")
      .select("vec_id", "embedding").localCheckpoint()
    val replayed = graft.ext.SimSearch.hnswDelta(lastBatch, store, lastEpoch)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(replayed == merged, "a replayed epoch changed the merged graph")
    val servedAgain = graft.ext.SimSearch.serveHnswFromStore(spark, store, probe)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(servedAgain == served, "a replayed epoch changed the served answer")
  }

  test("maintainIncrementalState: one state version per micro-batch, exact fold") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_inc_state").toString
    val rows = Seq((1L, "11.50"), (1L, "2.25"), (2L, "7.00"), (2L, "-3.75"))
    // two source files -> two micro-batches (maxFilesPerTrigger = 1)
    rows.grouped(2).foreach { g =>
      g.toDF("user_id", "price")
        .select(col("user_id"), col("price").cast("decimal(12,2)").as("price"))
        .coalesce(1).write.mode("append").parquet(s"$base/src")
    }
    val q = Streams.maintainIncrementalState(
      spark, s"$base/src", s"$base/state", s"$base/ckpt")
    q.awaitTermination()
    val versions = new java.io.File(s"$base/state").listFiles()
      .filter(_.getName.startsWith("v")).map(_.getName).sorted
    assert(versions.toSeq == Seq("v0", "v1"),
      s"expected one state version per batch, got ${versions.mkString(",")}")
    val latest = Streams.latestStateVersion(s"$base/state").get
    val got = spark.read.parquet(latest)
      .select(col("user_id"), col("n"), col("s").cast("string"),
        col("mn").cast("string"), col("mx").cast("string"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getString(3), r.getString(4))).sortBy(_._1)
    assert(got.toSeq == Seq(
      (1L, 2L, "13.75", "2.25", "11.50"),
      (2L, 2L, "3.25", "-3.75", "7.00")))
  }

  test("latestStateVersion: a version dir without _SUCCESS is not committed") {
    import spark.implicits._
    val state = Files.createTempDirectory("graft_state_commit").toString
    Seq((1L, 2L)).toDF("user_id", "n").write.parquet(s"$state/v0")
    // a crashed or in-flight write of v1: Spark made the dir and its
    // files, but the job never committed
    val v1 = new java.io.File(s"$state/v1")
    org.apache.commons.io.FileUtils.copyDirectory(new java.io.File(s"$state/v0"), v1)
    assert(new java.io.File(v1, "_SUCCESS").delete())
    assert(Streams.latestStateVersion(state).contains(s"$state/v0"))
  }

  test("streaming CUSUM == batch fold, arrival-order independent") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val rng = new scala.util.Random(11)
      // 2 users x 15 events, 1..40-min gaps, values straddling the target
      val rows = (1 to 2).flatMap { u =>
        var t = 0L
        (1 to 15).map { i =>
          t += 60L + rng.nextInt(40) * 60L
          ev(u * 100L + i, "2024-01-01 00:00:00", u.toLong, "e",
            20.0 + rng.nextInt(70))
            .copy(ts = new Timestamp(
              Timestamp.valueOf("2024-01-01 00:00:00").getTime + t * 1000))
        }
      }
      val ordered = rows.sortBy(_.ts.getTime)
      val ms = MemoryStream[graft.model.Event]
      val q = Streams.cusumDrift(ms.toDS(), target = 50.0).writeStream
        .format("memory").queryName("cusum_stream").outputMode("append").start()
      // time-contiguous micro-batches, arbitrary order INSIDE each batch
      ordered.grouped(ordered.size / 4 + 1).foreach { b =>
        ms.addData(rng.shuffle(b)); q.processAllAvailable()
      }
      // flush: far-future event per user pushes the watermark past all rows
      ms.addData((1 to 2).map(u =>
        ev(9000L + u, "2024-02-01 00:00:00", u.toLong, "flush", 50.0)))
      q.processAllAvailable()
      ms.addData(Seq(ev(9100L, "2024-02-01 00:01:00", 1L, "flush", 50.0)))
      q.processAllAvailable(); q.stop()
      val streamed = spark.table("cusum_stream")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .filter(_._2 < 9000L).toSeq.sorted
      // batch reference: the plain sequential fold per user in ts order
      val batch = rows.groupBy(_.user_id).toSeq.flatMap { case (u, es) =>
        var s = 0.0
        es.sortBy(e => (e.ts.getTime, e.event_id)).map { e =>
          s = math.max(0.0, s + (e.value.get - 50.0))
          (u, e.event_id, s)
        }
      }.sorted
      assert(streamed == batch,
        s"missing=${batch.diff(streamed)}\nextra=${streamed.diff(batch)}")
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }
}
