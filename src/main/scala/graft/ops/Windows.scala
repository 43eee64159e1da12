package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** SURVEY.md §2.E (window functions) + §2.F (sorts/limits/top-k).
  *
  * All per-entity windows partition by the entity key — one hash exchange,
  * then in-partition sort; `sort_limit` compiles to TakeOrderedAndProject
  * (per-partition top-k + merge on the driver, no global sort).
  */
object Windows extends graft.QueryModule {

  private def userWindow = Window.partitionBy(col("user_id"))
    .orderBy(col("ts"), col("event_id"))

  /** Most-recent-row-per-entity selection (`fetch_data.py:197-198`). */
  private def latestRow(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").desc, col("event_id").desc)
    Tables.events(s, d)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_id"), col("event_type"), col("value"))
      .orderBy("user_id")
  }

  /** Running last non-null value in time order (`Close.dropna().iloc[-1]`,
    * `fetch_data.py:156-160`). */
  private def lastNonNull(s: SparkSession, d: String): DataFrame = {
    val nulled = when(col("event_type") === "click", lit(null).cast("double"))
      .otherwise(col("value"))
    Tables.events(s, d)
      .withColumn("v", nulled)
      .withColumn("filled", last(col("v"), ignoreNulls = true)
        .over(userWindow.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("event_id"), col("user_id"), col("filled"))
      .orderBy("event_id")
  }

  /** Trailing-4-row frame sum — the per-period TTM formulation
    * (`fetch_data.py:35`). */
  private def rollingFrame(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .withColumn("ttm_asof", bround(
        sum(coalesce(col("value"), lit(0.0))).over(userWindow.rowsBetween(-3, 0)), 2))
      .select(col("event_id"), col("user_id"), col("ttm_asof"))
      .orderBy("event_id")

  /** Ratio-to-report [N] — each row's share of its partition total
    * (Oracle's RATIO_TO_REPORT): an unbounded-frame sum over the
    * partition, then one double division per row of inputs that are
    * exact decimals on both engines — bit-identical unrounded. Single
    * Window operator on the group key's hash exchange. */
  private def ratioToReport(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_orderpriority"))
    Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_orderpriority"),
        col("o_totalprice").cast("decimal(18,2)").as("price"))
      .withColumn("prio_total", sum(col("price")).over(w))
      .select(col("o_orderkey"), col("o_orderpriority"),
        col("price").cast("double").as("price"),
        (col("price").cast("double") / col("prio_total").cast("double"))
          .as("share"))
      .orderBy("o_orderkey")
  }

  /** Gaps-and-islands [N] — the canonical consecutive-runs problem:
    * collapse each user's active DAYS into maximal consecutive spans.
    * The classic trick: day − row_number() is constant within a
    * consecutive run, so one window pass labels islands and one hash
    * agg emits the spans — no self-join, no iteration, scales as a
    * single partition-keyed sort. */
  private def gapsIslands(s: SparkSession, d: String): DataFrame = {
    val days = Tables.events(s, d)
      .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
    val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
    days
      .withColumn("grp",
        datediff(col("day"), lit("1990-01-01")) - row_number().over(w))
      .groupBy(col("user_id"), col("grp"))
      .agg(min(col("day")).as("island_start"),
        max(col("day")).as("island_end"),
        count(lit(1)).as("n_days"))
      .select(col("user_id"), col("island_start"), col("island_end"),
        col("n_days"))
      .orderBy("user_id", "island_start")
  }

  /** Rolling DISTINCT count [N] — Spark has no `count(DISTINCT)` over a
    * window frame; the composable equivalent is
    * `size(array_distinct(collect_list))` over the frame, which stays
    * a single Window operator (one hash exchange + in-partition sort,
    * same as every rolling agg) with a frame-bounded buffer — 10 rows
    * here, so per-row state is constant and the operator scales
    * exactly like `win_rolling_frame`. The oracle runs DuckDB's native
    * windowed `count(DISTINCT)`, so hash equality proves the
    * collect/dedup formulation IS the distinct count. */
  private def distinctRolling(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .withColumn("n_types_10",
        size(array_distinct(collect_list(col("event_type"))
          .over(userWindow.rowsBetween(-9, 0)))))
      .select(col("event_id"), col("user_id"), col("n_types_10"))
      .orderBy("event_id")

  /** Ranking/analytic top-k per group [N]: top-3 orders per customer with
    * the previous order's price (lag). */
  private def rankTopk(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables.orders(s, d)
      .withColumn("rk", row_number().over(w))
      .withColumn("drk", dense_rank().over(w))
      .withColumn("quartile", ntile(4).over(w))
      .withColumn("pct_rank", bround(percent_rank().over(w), 6))
      .withColumn("cume", bround(cume_dist().over(w), 6))
      .withColumn("prev_price", lag(col("o_totalprice"), 1).over(w))
      .withColumn("next_price", lead(col("o_totalprice"), 1).over(w))
      .filter(col("rk") <= 3)
      .select(col("o_custkey"), col("rk"), col("drk"), col("quartile"),
        col("pct_rank"), col("cume"),
        col("o_orderkey"), col("o_totalprice"), col("prev_price"), col("next_price"))
      .orderBy("o_custkey", "rk")
  }

  /** Order-by-recency + take-first-k (`fetch_data.py:35,198,156-160`) —
    * plans as TakeOrderedAndProject, not a full sort. */
  private def sortLimit(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_totalprice"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(10)

  /** Deterministic presentation order — the engine imposes a total order
    * where the reference's set-iteration was nondeterministic
    * (`fetch_data.py:282,308`). */
  private def sortOutput(s: SparkSession, d: String): DataFrame =
    Tables.nation(s, d)
      .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
      .select(col("r_name"), col("n_name"), col("n_nationkey"))
      .orderBy(col("r_name").asc, col("n_name").desc)

  /** Distribution windows [N]: percent_rank / cume_dist / ntile over the
    * per-user event count distribution — rank arithmetic is exact
    * rationals, so the doubles hash-match the oracle bit-for-bit. */
  private def distributionRanks(s: SparkSession, d: String): DataFrame = {
    val counts = Tables.events(s, d)
      .groupBy(col("user_id")).agg(count(lit(1)).as("n_events"))
    val w = Window.orderBy(col("n_events"), col("user_id"))
    counts.select(col("user_id"), col("n_events"),
      percent_rank().over(w).as("pct_rank"),
      cume_dist().over(w).as("cume"),
      ntile(10).over(w).as("decile"))
      .orderBy("user_id")
  }

  /** Sequential conversion funnel over the event stream [N]: first view →
    * first click within 1 DAY at-or-after it → first purchase within
    * 1 day at-or-after that (the windowed-funnel semantics analytics
    * products ship); each stage is one filtered agg joined to the
    * previous stage's firsts (3 exchanges on user_id, AQE-coalescible —
    * the windowless shape that holds when one user's history doesn't fit
    * a partition sort). */
  private def funnelStages(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).select(col("user_id"), col("ts"), col("event_type"))
    val users = ev.select(col("user_id")).distinct()
    val v = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts")).as("fv"))
    val c = ev.filter(col("event_type") === "click").join(v, Seq("user_id"))
      .filter(col("ts") >= col("fv") &&
        col("ts") <= col("fv") + expr("INTERVAL 1 DAY"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("fc"))
    val p = ev.filter(col("event_type") === "purchase").join(c, Seq("user_id"))
      .filter(col("ts") >= col("fc") &&
        col("ts") <= col("fc") + expr("INTERVAL 1 DAY"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("fp"))
    users
      .join(v, Seq("user_id"), "left")
      .join(c, Seq("user_id"), "left")
      .join(p, Seq("user_id"), "left")
      .select(
        when(col("fp").isNotNull, 3)
          .when(col("fc").isNotNull, 2)
          .when(col("fv").isNotNull, 1)
          .otherwise(0).as("funnel_stage"))
      .groupBy(col("funnel_stage"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy("funnel_stage")
  }

  /** Step conversion rates over the [[funnelStages]] profile [N]:
    * users at-or-past each stage (suffix sum over the stage counts) and
    * the stage-to-stage conversion ratio every growth dashboard reads.
    * The suffix-sum window runs on the STAGE-DOMAIN table (≤4 rows) —
    * single-partition by construction and size-bounded, the same
    * domain-sized-window class as `win_skyline`. */
  private def funnelConversion(s: SparkSession, d: String): DataFrame = {
    val sc = funnelStages(s, d)
    val wDesc = Window.orderBy(col("funnel_stage").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAsc = Window.orderBy(col("funnel_stage"))
    sc.select(col("funnel_stage"), col("n_users"),
        sum(col("n_users")).over(wDesc).as("n_at_or_past"))
      .select(col("funnel_stage"), col("n_users"), col("n_at_or_past"),
        bround(col("n_at_or_past").cast("double") /
          lag(col("n_at_or_past"), 1).over(wAsc).cast("double"), 8)
          .as("conv_from_prev"))
      .orderBy("funnel_stage")
  }

  /** Last-touch marketing attribution [N]: each purchase is credited to
    * the user's most recent PRECEDING click or view within a 7-day
    * lookback (the standard last-non-direct-touch model). The
    * engine-portable trick: instead of `last_value(... IGNORE NULLS)`
    * (dialect-dependent), take a per-channel running `max` over a
    * `CASE`-masked epoch-micros column — `max` skips nulls everywhere,
    * `(user_id, ts)` uniqueness makes the later-of-two comparison
    * tie-free, and everything is BIGINT. One window sort per user
    * partition serves both channels, then one hash agg. */
  private def attrLastTouch(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val lookback = 7L * 24 * 3600 * 1000000L
    Tables.events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("us", unix_micros(col("ts")))
      .withColumn("lc",
        max(when(col("event_type") === "click", col("us"))).over(w))
      .withColumn("lv",
        max(when(col("event_type") === "view", col("us"))).over(w))
      .filter(col("event_type") === "purchase")
      .select(
        when(col("lc").isNull && col("lv").isNull, lit("none"))
          .when(col("lv").isNull ||
            (col("lc").isNotNull && col("lc") > col("lv")),
            when(col("us") - col("lc") <= lookback, lit("click"))
              .otherwise(lit("stale")))
          .otherwise(
            when(col("us") - col("lv") <= lookback, lit("view"))
              .otherwise(lit("stale"))).as("channel"))
      .groupBy(col("channel"))
      .agg(count(lit(1)).as("conversions"))
      .orderBy("channel")
  }

  /** Gap-based sessionization [N] with explicit SESSION IDS — the batch
    * twin of `session_window` that also LABELS every session: a session
    * breaks after a 30-minute silence, the break flags cumulative-sum
    * into a per-user session index (two passes over ONE window ordering
    * — lag then running sum — a single sort per user partition), then
    * one hash agg per (user, session). Emitting ids (not just bounds)
    * is what lets downstream joins attribute events to sessions. */
  /** [[sessionize]]'s semantics through the NATIVE window function
    * [[graft.functions.SessionId]] (custom AggregateWindowFunction):
    * one running buffer pass labels sessions instead of the lag-flag +
    * cumulative-sum pair. Shares `win_sessionize`'s oracle verbatim —
    * hash equality IS the proof the single-pass state machine matches
    * the two-expression idiom. */
  private def sessionizeNative(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      .withColumn("sess_id", call_function("graft_session_id",
        col("ts"), lit(30L * 60 * 1000000)).over(w))
      .groupBy(col("user_id"), col("sess_id"))
      .agg(count(lit(1)).as("n_events"),
        min(col("ts")).as("s_start"), max(col("ts")).as("s_end"),
        sum(col("value").cast("decimal(12,2)")).cast("double").as("sess_value"))
      .orderBy("user_id", "sess_id")
  }

  /** Calendar densification + forward fill [N]: materialize the MISSING
    * days of each user's activity span (the rows [[interpolate]] can't
    * touch because they don't exist) and carry the last known daily
    * total forward — the resample step every time-series pipeline runs
    * before windowed features.
    *
    * Scale shape: the day spine is a row-local `sequence()` explode per
    * user (span-bounded, never a calendar×users cross join), the
    * actuals join is one equi-shuffle on (user, day), and the fill is a
    * single ordered window. Totals stay exact decimals until the final
    * cast. */
  private def gapFill(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.events(s, d)
      .groupBy(col("user_id"), to_date(col("ts")).as("day"))
      .agg(sum(col("value").cast("decimal(12,2)")).as("total"))
    val dense = daily.groupBy(col("user_id"))
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(col("user_id"),
        explode(expr("sequence(d0, d1, interval 1 day)")).as("day"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    dense.join(daily, Seq("user_id", "day"), "left")
      .select(col("user_id"), col("day"),
        last(col("total"), ignoreNulls = true).over(w)
          .cast("double").as("total"),
        col("total").isNull.as("is_filled"))
      .orderBy("user_id", "day")
  }

  private def sessionize(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      .withColumn("brk",
        when(unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(w)) >
          lit(30L * 60 * 1000000), 1L).otherwise(0L))
      .withColumn("sess_id", sum(col("brk")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("sess_id"))
      .agg(count(lit(1)).as("n_events"),
        min(col("ts")).as("s_start"), max(col("ts")).as("s_end"),
        sum(col("value").cast("decimal(12,2)")).cast("double").as("sess_value"))
      .orderBy("user_id", "sess_id")
  }

  /** Sweep-line interval concurrency [N]: how many orders are "open" on
    * each day, where an order stays open `o_orderkey % 30 + 1` days. The
    * classic +1/-1 delta unpivot collapses |intervals| rows into one row
    * per boundary DAY before the running sum, so the single-partition
    * window at the end scans only the distinct-date timeline (a few
    * thousand rows regardless of table size) — the per-interval work is
    * all map-side + one tiny hash agg. This is the scalable form of
    * "overlap counting"; the naive interval self-join is quadratic. */
  private def sweepConcurrency(s: SparkSession, d: String): DataFrame = {
    val iv = Tables.orders(s, d)
      .select(to_date(col("o_orderdate")).as("s"),
        date_add(to_date(col("o_orderdate")),
          (col("o_orderkey") % 30 + 1).cast("int")).as("e"))
    val deltas = iv.select(col("s").as("day"), lit(1L).as("delta"))
      .unionAll(iv.select(date_add(col("e"), 1).as("day"), lit(-1L).as("delta")))
    deltas.groupBy(col("day"))
      .agg(sum(col("delta")).as("net"))
      .withColumn("active", sum(col("net")).over(
        Window.orderBy(col("day"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .orderBy("day")
  }

  /** Linear interpolation of missing readings [N] — the time-series
    * twin of [[lastNonNull]]'s LOCF: a null reading fills from the
    * time-weighted line between its neighboring non-null readings
    * (leading/trailing nulls take the nearest known value). Two window
    * passes over ONE ordering (running last-non-null backward,
    * first-non-null forward — both value AND its timestamp), then one
    * pinned IEEE expression per row: exact long microsecond diffs, one
    * divide for the fraction, one fused interpolation, 6dp output pin.
    * No self-join, no explode — linear at any scale. (The generated
    * events table has no null readings at any SF, so dropouts are
    * SIMULATED deterministically — every seventh reading — to make
    * every branch of the fill actually bite; QueriesSpec asserts the
    * masked rows exist and fill within their neighbor bounds.) */
  private def interpolate(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val back = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val fwd = w.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    def dd(c: org.apache.spark.sql.Column) = c.cast("double")
    Tables.events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"),
        when(col("event_id") % 7 === 0, lit(null))
          .otherwise(col("value").cast("decimal(12,2)")).as("v"))
      .withColumn("pv", last(col("v"), ignoreNulls = true).over(back))
      .withColumn("pt", last(when(col("v").isNotNull, col("ts")), ignoreNulls = true).over(back))
      .withColumn("nv", first(col("v"), ignoreNulls = true).over(fwd))
      .withColumn("nt", first(when(col("v").isNotNull, col("ts")), ignoreNulls = true).over(fwd))
      .select(col("user_id"), col("event_id"),
        when(col("v").isNotNull, dd(col("v")))
          .when(col("pv").isNull, dd(col("nv")))
          .when(col("nv").isNull, dd(col("pv")))
          .otherwise(bround(dd(col("pv")) + (dd(col("nv")) - dd(col("pv")))
            * (dd(unix_micros(col("ts")) - unix_micros(col("pt")))
               / dd(unix_micros(col("nt")) - unix_micros(col("pt")))), 6))
          .as("filled"))
      .orderBy("user_id", "event_id")
  }

  /** Value-navigation window battery [N] (§E completeness): first/last
    * value with explicit null handling, nth_value, and lag with a
    * default — the reference-row functions the ranking keys don't
    * touch. One window ordering serves all five columns (single sort,
    * no extra exchanges; the frame for last_value must be the FULL
    * partition or it silently degrades to "running last"). */
  private def valueFunctions(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"),
        col("value").cast("decimal(12,2)").as("v"))
      .select(col("user_id"), col("event_id"),
        first(col("v")).over(full).cast("double").as("first_v"),
        last(col("v"), ignoreNulls = true).over(full).cast("double")
          .as("last_nonnull_v"),
        nth_value(col("v"), 2).over(full).cast("double").as("second_v"),
        lag(col("v"), 1, -1).over(w).cast("double").as("prev_or_neg1"),
        lead(col("v"), 2).over(w).cast("double").as("next2"))
      .orderBy("user_id", "event_id")
  }

  /** 2-D skyline (Pareto frontier, maximize both axes) [N]: the
    * textbook NOT-EXISTS dominance query is an all-pairs self-join —
    * quadratic and unrunnable at scale. Reformulated: per-x max
    * collapses the point cloud to one candidate per x value (a hash agg
    * over ≤50 quantity buckets here), then ONE ordered pass marks the
    * candidates whose y strictly exceeds every higher-x candidate's
    * (running max over the x-descending order). The window runs over
    * |distinct x| rows, not |points| — the sort is on a table the size
    * of the domain, so the plan is agg-bound, linear in input.
    * WinSkylineSpec proves equivalence to the brute-force dominance
    * definition at sf0.001. */
  private def skyline(s: SparkSession, d: String): DataFrame = {
    val pts = Tables.lineitem(s, d)
      .select(col("l_quantity").cast("int").as("x"),
        col("l_extendedprice").cast("decimal(12,2)").as("y"))
      .groupBy(col("x"), col("y")).agg(count(lit(1)).as("n"))
    val cand = pts.groupBy(col("x"))
      .agg(max(struct(col("y"), col("n"))).as("m"))
      .select(col("x"), col("m.y").as("ymax"), col("m.n").as("n_at_max"))
    cand.withColumn("pmax",
        max(col("ymax")).over(Window.orderBy(col("x").desc)
          .rowsBetween(Window.unboundedPreceding, -1)))
      .filter(col("pmax").isNull || col("ymax") > col("pmax"))
      .select(col("x"), col("ymax").cast("double").as("ymax"),
        col("n_at_max"))
      .orderBy("x")
  }

  /** Exact rolling MEDIAN over a trailing 10-row frame [N]. Built-in
    * interpolating percentiles are engine-specific in their last ULP
    * ((1-g)a+gb vs a+g(b-a)), so this pins the math: frame values are
    * exact decimals, the frame materializes as a sorted 10-element
    * array, and the even-case midpoint is written as one fixed IEEE
    * expression ((x+y)/2.0) both here and in the oracle — bit-exact by
    * construction. The frame is bounded, so per-row state is O(10)
    * regardless of history length. */
  private def rollingMedian(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id")).rowsBetween(-9, 0)
    def dd(c: org.apache.spark.sql.Column) = c.cast("double")
    Tables.events(s, d)
      .filter(col("event_type") === "click" && col("value").isNotNull)
      .select(col("user_id"), col("ts"), col("event_id"),
        col("value").cast("decimal(12,2)").as("v"))
      .withColumn("a", sort_array(collect_list(col("v")).over(w)))
      .withColumn("n", size(col("a")))
      .select(col("user_id"), col("event_id"),
        when(col("n") % 2 === 1,
          dd(element_at(col("a"), ((col("n") + 1) / 2).cast("int"))))
          .otherwise((dd(element_at(col("a"), (col("n") / 2).cast("int")))
            + dd(element_at(col("a"), (col("n") / 2 + 1).cast("int")))) / 2.0)
          .as("med"))
      .orderBy("user_id", "event_id")
  }

  /** Merge overlapping/touching validity intervals per customer [N] —
    * the other half of the sweep-line family ([[sweepConcurrency]]
    * counts overlap; this COALESCES it). One window ordering per key:
    * running max of interval ends over the preceding rows; a gap
    * (start beyond every prior end) breaks a new island; islands then
    * collapse in one hash agg. Linear in rows, parallel across
    * customers — no self-join, no island×interval blowup; the classic
    * quadratic NOT-EXISTS formulation is what this replaces at scale. */
  /** Rolling z-score over a trailing 16-row frame per user [N] — the
    * online-anomaly feature every monitoring pipeline computes. The
    * frame's Σx and Σx² are EXACT decimal window sums (the value pins
    * to 2dp first, its square to an exact 4dp decimal), and each row
    * assembles mean/variance/z in a fixed IEEE expression order
    * mirrored verbatim by the oracle — the [[Aggs]] exact-sufficient-
    * statistics discipline applied inside a moving frame. Population
    * variance; |z| needs var > 0 (constant frames emit null). */
  private def rollingZscore(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(-15, 0)
    def dd(c: org.apache.spark.sql.Column) = c.cast("double")
    Tables.events(s, d)
      .filter(col("value").isNotNull)
      .select(col("user_id"), col("ts"), col("event_id"),
        col("value").cast("decimal(12,2)").as("v"))
      .withColumn("n", count(lit(1)).over(w).cast("double"))
      .withColumn("sx", sum(col("v")).over(w))
      .withColumn("sx2", sum((col("v") * col("v")).cast("decimal(24,4)")).over(w))
      .withColumn("varn",
        (dd(col("sx2")) * col("n") - dd(col("sx")) * dd(col("sx")))
          / (col("n") * col("n")))
      .select(col("user_id"), col("event_id"),
        // singleton/constant frames have zero variance: z undefined ->
        // null (ANSI divide-by-zero on the Spark side, inf on DuckDB's)
        when(col("varn") > 0,
          bround((dd(col("v")) - dd(col("sx")) / col("n")) /
            sqrt(col("varn")), 8)).as("zscore"))
      .orderBy("user_id", "event_id")
  }

  /** One-sided CUSUM drift detection per user [N] — the classic
    * change-point statistic S_i = max(0, S_{i-1} + (x_i - target)).
    * The recurrence LOOKS iterative, but prefix algebra makes it two
    * plain windows: S_i = P_i - min_{j≤i} P_j where P is the running
    * sum of deviations — so the whole detector is declarative, exact
    * decimal arithmetic, and shuffle-partitioned by user like any other
    * window. Flags fire where the statistic clears the threshold. */
  private def cusumDrift(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(s, d)
      .filter(col("value").isNotNull)
      .select(col("user_id"), col("ts"), col("event_id"),
        (col("value").cast("decimal(12,2)") - lit(50)).as("dev"))
      .withColumn("p", sum(col("dev")).over(w))
      .withColumn("cusum",
        col("p") - least(min(col("p")).over(w), lit(0).cast("decimal(12,2)")))
      .select(col("user_id"), col("event_id"),
        col("cusum").cast("double").as("cusum"),
        (col("cusum") > 500).as("drift_flag"))
      .orderBy("user_id", "event_id")
  }

  /** Interval DIFFERENCE A \ B [N] — the subtraction half of the
    * interval family ([[intervalMerge]] is the union half): per-customer
    * merged validity intervals MINUS the monthly maintenance blackouts
    * (first 5 days of each month in the date domain). The boundary-point
    * method keeps it declarative: every kept segment lies between two
    * adjacent boundary points (interval ends + clamped blackout ends),
    * and a segment survives iff no blackout covers it — segments never
    * straddle boundaries, so coverage is a simple point-pair test, not
    * a sweep with state.
    *
    * Scale shape: the blackout dimension is TIME-DOMAIN-bounded (one
    * row per month — broadcast by construction, the two non-equi joins
    * are bounded by |A|·|overlapping months|); boundary explode is
    * row-local; one window lead per interval. */
  private def intervalDiff(s: SparkSession, d: String): DataFrame = {
    val iv = Tables.orders(s, d)
      .select(col("o_custkey").as("k"),
        to_date(col("o_orderdate")).as("s"),
        date_add(to_date(col("o_orderdate")),
          (col("o_orderkey") % 30 + 1).cast("int")).as("e"))
    val w0 = Window.partitionBy(col("k")).orderBy(col("s"), col("e"))
    val a = iv
      .withColumn("pmax",
        max(col("e")).over(w0.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("brk",
        when(col("pmax").isNull || col("s") > col("pmax"), 1L).otherwise(0L))
      .withColumn("island", sum(col("brk")).over(
        w0.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("k"), col("island"))
      .agg(min(col("s")).as("s"), max(col("e")).as("e"))
      .select(col("k"), col("s"), col("e"))
    val b = Tables.orders(s, d)
      .select(trunc(col("o_orderdate"), "month").cast("date").as("bs"))
      .distinct()
      .select(col("bs"), date_add(col("bs"), 5).as("be"))
    val pts = a.join(broadcast(b),
        col("bs") < col("e") && col("s") < col("be"), "left")
      .select(col("k"), col("s"), col("e"),
        explode(array(col("s"), col("e"),
          coalesce(greatest(col("bs"), col("s")), col("s")),
          coalesce(least(col("be"), col("e")), col("s")))).as("p"))
      .distinct()
    val w = Window.partitionBy(col("k"), col("s"), col("e")).orderBy(col("p"))
    pts.withColumn("np", lead(col("p"), 1).over(w))
      .filter(col("np") > col("p"))
      .join(broadcast(b), col("bs") <= col("p") && col("np") <= col("be"),
        "left_anti")
      .select(col("k").as("o_custkey"), col("p").as("start_d"),
        col("np").as("end_d"), datediff(col("np"), col("p")).as("days"))
      .orderBy("o_custkey", "start_d", "end_d")
  }

  private def intervalMerge(s: SparkSession, d: String): DataFrame = {
    val iv = Tables.orders(s, d)
      .select(col("o_custkey").as("k"),
        to_date(col("o_orderdate")).as("s"),
        date_add(to_date(col("o_orderdate")),
          (col("o_orderkey") % 30 + 1).cast("int")).as("e"))
    val w = Window.partitionBy(col("k")).orderBy(col("s"), col("e"))
    iv.withColumn("pmax",
        max(col("e")).over(w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("brk",
        when(col("pmax").isNull || col("s") > col("pmax"), 1L).otherwise(0L))
      .withColumn("island", sum(col("brk")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("k"), col("island"))
      .agg(min(col("s")).as("start_d"), max(col("e")).as("end_d"),
        count(lit(1)).as("n_merged"))
      .select(col("k").as("o_custkey"), col("start_d"), col("end_d"),
        datediff(col("end_d"), col("start_d")).as("span_days"),
        col("n_merged"))
      .orderBy("o_custkey", "start_d")
  }

  /** Longest strictly-increasing value run per user [N] — the
    * MATCH_RECOGNIZE-style "pattern over an ordered stream" shape done
    * with gaps-and-islands: a break flag (not-increasing) cumulative-sums
    * into run ids on ONE window ordering (same single-sort discipline as
    * [[sessionize]]), then two hash aggs produce per-user run stats. */
  private def patternRuns(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      .withColumn("brk",
        when(col("value") > lag(col("value"), 1).over(w), 0L).otherwise(1L))
      .withColumn("run_id", sum(col("brk")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("run_id"))
      .agg(count(lit(1)).as("run_len"))
      .groupBy(col("user_id"))
      .agg(max(col("run_len")).as("longest_run"),
        count(lit(1)).as("n_runs"))
      .orderBy("user_id")
  }

  /** Time-based RANGE window frame [N]: each tick's trailing-1-hour
    * activity (count + exact-decimal sum) — the frame is defined by the
    * ORDER-BY VALUE (ts within 1 hour), not by row offsets, so sparse
    * and dense users get the same wall-clock semantics. The ROWS-frame
    * twin is [[rollingFrame]]. */
  private def rangeFrame(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"),
        col("value").cast("decimal(12,2)").as("v"))
      .select(col("user_id"), col("ts"), col("event_id"),
        expr("""count(*) OVER (PARTITION BY user_id ORDER BY ts
                RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)""")
          .as("n_1h"),
        expr("""CAST(sum(v) OVER (PARTITION BY user_id ORDER BY ts
                RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
                AS DOUBLE)""").as("sum_1h"))
      .orderBy("user_id", "ts", "event_id")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "win_distinct_rolling" -> distinctRolling,
    "win_ratio_to_report" -> ratioToReport,
    "win_gaps_islands" -> gapsIslands,
    "win_range_frame" -> rangeFrame,
    "win_pattern_runs" -> patternRuns,
    "win_sweep_concurrency" -> sweepConcurrency,
    "win_interval_merge" -> intervalMerge,
    "win_interval_diff" -> intervalDiff,
    "win_cusum_drift" -> cusumDrift,
    "win_rolling_zscore" -> rollingZscore,
    "win_rolling_median" -> rollingMedian,
    "win_skyline" -> skyline,
    "win_value_functions" -> valueFunctions,
    "win_interpolate" -> interpolate,
    "win_distribution_ranks" -> distributionRanks,
    "win_sessionize" -> sessionize,
    "win_sessionize_native" -> sessionizeNative,
    "win_gap_fill" -> gapFill,
    "funnel_conversion" -> funnelConversion,
    "attr_last_touch" -> attrLastTouch,
    "funnel_stages" -> funnelStages,
    "win_latest_row" -> latestRow,
    "win_last_nonnull" -> lastNonNull,
    "win_rolling_frame" -> rollingFrame,
    "win_rank_topk" -> rankTopk,
    "sort_limit" -> sortLimit,
    "sort_output" -> sortOutput)

  val oracles: Map[String, String] = Map(
    "win_ratio_to_report" ->
      """WITH o AS (
        |  SELECT o_orderkey, o_orderpriority,
        |         CAST(o_totalprice AS DECIMAL(18,2)) AS price
        |  FROM orders),
        |t AS (
        |  SELECT o_orderkey, o_orderpriority, price,
        |         sum(price) OVER (PARTITION BY o_orderpriority) AS prio_total
        |  FROM o)
        |SELECT o_orderkey, o_orderpriority,
        |       CAST(price AS DOUBLE) AS price,
        |       CAST(price AS DOUBLE) / CAST(prio_total AS DOUBLE) AS share
        |FROM t ORDER BY o_orderkey""".stripMargin,
    "win_gaps_islands" ->
      """WITH days AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |g AS (
        |  SELECT user_id, day,
        |         datediff('day', DATE '1990-01-01', day)
        |           - row_number() OVER (PARTITION BY user_id ORDER BY day)
        |           AS grp
        |  FROM days)
        |SELECT user_id, min(day) AS island_start, max(day) AS island_end,
        |       count(*) AS n_days
        |FROM g GROUP BY user_id, grp
        |ORDER BY user_id, island_start""".stripMargin,
    "win_distinct_rolling" ->
      """SELECT event_id, user_id,
        |       CAST(count(DISTINCT event_type) OVER (
        |         PARTITION BY user_id ORDER BY ts, event_id
        |         ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) AS INTEGER)
        |         AS n_types_10
        |FROM events ORDER BY event_id""".stripMargin,
    "win_interpolate" ->
      """WITH e AS (
        |  SELECT user_id, event_id, date_trunc('microseconds', ts) AS ts,
        |         CASE WHEN event_id % 7 = 0 THEN NULL
        |              ELSE CAST(value AS DECIMAL(12,2)) END AS v
        |  FROM events),
        |m AS (
        |  SELECT user_id, event_id, ts, v,
        |         last_value(v IGNORE NULLS) OVER back AS pv,
        |         last_value(CASE WHEN v IS NOT NULL THEN ts END
        |                    IGNORE NULLS) OVER back AS pt,
        |         first_value(v IGNORE NULLS) OVER fwd AS nv,
        |         first_value(CASE WHEN v IS NOT NULL THEN ts END
        |                     IGNORE NULLS) OVER fwd AS nt
        |  FROM e
        |  WINDOW back AS (PARTITION BY user_id ORDER BY ts, event_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |         fwd AS (PARTITION BY user_id ORDER BY ts, event_id
        |           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
        |SELECT user_id, event_id,
        |       CASE WHEN v IS NOT NULL THEN CAST(v AS DOUBLE)
        |            WHEN pv IS NULL THEN CAST(nv AS DOUBLE)
        |            WHEN nv IS NULL THEN CAST(pv AS DOUBLE)
        |            ELSE round_even(CAST(pv AS DOUBLE)
        |              + (CAST(nv AS DOUBLE) - CAST(pv AS DOUBLE))
        |              * (CAST(epoch_us(ts) - epoch_us(pt) AS DOUBLE)
        |                 / CAST(epoch_us(nt) - epoch_us(pt) AS DOUBLE)), 6)
        |       END AS filled
        |FROM m ORDER BY user_id, event_id""".stripMargin,
    "win_value_functions" ->
      """WITH e AS (
        |  SELECT user_id, event_id, date_trunc('microseconds', ts) AS ts,
        |         CAST(value AS DECIMAL(12,2)) AS v
        |  FROM events)
        |SELECT user_id, event_id,
        |       CAST(first_value(v) OVER full_w AS DOUBLE) AS first_v,
        |       CAST(last_value(v IGNORE NULLS) OVER full_w AS DOUBLE)
        |         AS last_nonnull_v,
        |       CAST(nth_value(v, 2) OVER full_w AS DOUBLE) AS second_v,
        |       CAST(lag(v, 1, CAST(-1 AS DECIMAL(12,2))) OVER ord_w
        |            AS DOUBLE) AS prev_or_neg1,
        |       CAST(lead(v, 2) OVER ord_w AS DOUBLE) AS next2
        |FROM e
        |WINDOW ord_w AS (PARTITION BY user_id ORDER BY ts, event_id),
        |       full_w AS (PARTITION BY user_id ORDER BY ts, event_id
        |         ROWS BETWEEN UNBOUNDED PRECEDING
        |          AND UNBOUNDED FOLLOWING)
        |ORDER BY user_id, event_id""".stripMargin,
    "win_skyline" ->
      """WITH pts AS (
        |  SELECT CAST(l_quantity AS INTEGER) AS x,
        |         CAST(l_extendedprice AS DECIMAL(12,2)) AS y,
        |         count(*) AS n
        |  FROM lineitem GROUP BY 1, 2),
        |cand AS (
        |  SELECT x, max(y) AS ymax,
        |         max_by(n, y) AS n_at_max
        |  FROM pts GROUP BY x),
        |m AS (
        |  SELECT x, ymax, n_at_max,
        |         max(ymax) OVER (ORDER BY x DESC
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
        |  FROM cand)
        |SELECT x, CAST(ymax AS DOUBLE) AS ymax, n_at_max
        |FROM m WHERE pmax IS NULL OR ymax > pmax
        |ORDER BY x""".stripMargin,
    "win_rolling_median" ->
      """WITH e AS (
        |  SELECT user_id, event_id, date_trunc('microseconds', ts) AS ts,
        |         CAST(value AS DECIMAL(12,2)) AS v
        |  FROM events
        |  WHERE event_type = 'click' AND value IS NOT NULL),
        |a AS (
        |  SELECT user_id, event_id,
        |         list_sort(list(v) OVER (PARTITION BY user_id
        |           ORDER BY ts, event_id
        |           ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)) AS arr
        |  FROM e)
        |SELECT user_id, event_id,
        |       CASE WHEN len(arr) % 2 = 1
        |            THEN CAST(arr[(len(arr) + 1) // 2] AS DOUBLE)
        |            ELSE (CAST(arr[len(arr) // 2] AS DOUBLE)
        |                + CAST(arr[len(arr) // 2 + 1] AS DOUBLE)) / 2.0
        |       END AS med
        |FROM a ORDER BY user_id, event_id""".stripMargin,
    "win_interval_merge" ->
      """WITH iv AS (
        |  SELECT o_custkey AS k, CAST(o_orderdate AS DATE) AS s,
        |         CAST(o_orderdate AS DATE)
        |           + CAST(o_orderkey % 30 + 1 AS INTEGER) AS e
        |  FROM orders),
        |m AS (
        |  SELECT k, s, e,
        |         max(e) OVER (PARTITION BY k ORDER BY s, e
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
        |  FROM iv),
        |i AS (
        |  SELECT k, s, e, sum(CASE WHEN pmax IS NULL OR s > pmax
        |                           THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY k ORDER BY s, e
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
        |  FROM m)
        |SELECT k AS o_custkey, min(s) AS start_d, max(e) AS end_d,
        |       CAST(date_diff('day', min(s), max(e)) AS INTEGER) AS span_days,
        |       count(*) AS n_merged
        |FROM i GROUP BY k, island ORDER BY o_custkey, start_d""".stripMargin,
    "win_rolling_zscore" ->
      """WITH e AS (
        |  SELECT user_id, date_trunc('microseconds', ts) AS ts, event_id,
        |         CAST(value AS DECIMAL(12,2)) AS v
        |  FROM events WHERE value IS NOT NULL),
        |f AS (
        |  SELECT user_id, event_id, v,
        |         CAST(count(*) OVER w AS DOUBLE) AS n,
        |         CAST(sum(v) OVER w AS DECIMAL(18,2)) AS sx,
        |         CAST(sum(CAST(v * v AS DECIMAL(24,4))) OVER w
        |              AS DECIMAL(24,4)) AS sx2
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |                      ROWS BETWEEN 15 PRECEDING AND CURRENT ROW)),
        |g AS (
        |  SELECT user_id, event_id, v, n, sx,
        |         (CAST(sx2 AS DOUBLE) * n
        |          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) / (n * n)
        |           AS varn
        |  FROM f)
        |SELECT user_id, event_id,
        |       CASE WHEN varn > 0 THEN round_even(
        |         (CAST(v AS DOUBLE) - CAST(sx AS DOUBLE) / n) /
        |           sqrt(varn), 8) END AS zscore
        |FROM g ORDER BY user_id, event_id""".stripMargin,
    "win_cusum_drift" ->
      """WITH e AS (
        |  SELECT user_id, date_trunc('microseconds', ts) AS ts, event_id,
        |         CAST(value AS DECIMAL(12,2)) - 50 AS dev
        |  FROM events WHERE value IS NOT NULL),
        |p AS (
        |  -- width-tighten the running sums: two DECIMAL(38,2) operands
        |  -- would push the final subtraction past width 38 and DuckDB
        |  -- silently degrades the op to DOUBLE (measured 4.5e-15 noise)
        |  SELECT user_id, ts, event_id,
        |         CAST(sum(dev) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                        ROWS UNBOUNDED PRECEDING) AS DECIMAL(18,2)) AS p
        |  FROM e),
        |m AS (
        |  SELECT user_id, event_id, p,
        |         CAST(min(p) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                      ROWS UNBOUNDED PRECEDING) AS DECIMAL(18,2)) AS mn
        |  FROM p)
        |SELECT user_id, event_id,
        |       -- DuckDB's least() DEGRADES decimals to DOUBLE (even
        |       -- decimal-vs-decimal); CASE keeps the clamp exact
        |       CAST(p - (CASE WHEN mn < 0 THEN mn
        |                      ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
        |         AS cusum,
        |       (p - (CASE WHEN mn < 0 THEN mn
        |             ELSE CAST(0 AS DECIMAL(18,2)) END)) > 500 AS drift_flag
        |FROM m ORDER BY user_id, event_id""".stripMargin,
    "win_interval_diff" ->
      """WITH iv AS (
        |  SELECT o_custkey AS k, CAST(o_orderdate AS DATE) AS s,
        |         CAST(o_orderdate AS DATE)
        |           + CAST(o_orderkey % 30 + 1 AS INTEGER) AS e
        |  FROM orders),
        |m AS (
        |  SELECT k, s, e,
        |         max(e) OVER (PARTITION BY k ORDER BY s, e
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
        |  FROM iv),
        |i AS (
        |  SELECT k, s, e, sum(CASE WHEN pmax IS NULL OR s > pmax
        |                           THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY k ORDER BY s, e
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
        |  FROM m),
        |a AS (
        |  SELECT k, min(s) AS s, max(e) AS e FROM i GROUP BY k, island),
        |b AS (
        |  SELECT DISTINCT CAST(date_trunc('month', o_orderdate) AS DATE) AS bs,
        |         CAST(date_trunc('month', o_orderdate) AS DATE) + 5 AS be
        |  FROM orders),
        |pts AS (
        |  SELECT DISTINCT k, s, e, p FROM (
        |    SELECT a.k, a.s, a.e,
        |           unnest([a.s, a.e,
        |                   coalesce(greatest(b.bs, a.s), a.s),
        |                   coalesce(least(b.be, a.e), a.s)]) AS p
        |    FROM a LEFT JOIN b ON b.bs < a.e AND a.s < b.be)),
        |segs AS (
        |  SELECT k, s, e, p,
        |         lead(p) OVER (PARTITION BY k, s, e ORDER BY p) AS np
        |  FROM pts)
        |SELECT k AS o_custkey, p AS start_d, np AS end_d,
        |       CAST(date_diff('day', p, np) AS INTEGER) AS days
        |FROM segs
        |WHERE np > p AND NOT EXISTS (
        |  SELECT 1 FROM b WHERE b.bs <= segs.p AND segs.np <= b.be)
        |ORDER BY o_custkey, start_d, end_d""".stripMargin,
    "win_range_frame" ->
      """WITH e AS (
        |  SELECT user_id, event_id,
        |         date_trunc('microseconds', ts) AS ts,
        |         CAST(value AS DECIMAL(12,2)) AS v
        |  FROM events)
        |SELECT user_id, ts, event_id,
        |       count(*) OVER w AS n_1h,
        |       CAST(sum(v) OVER w AS DOUBLE) AS sum_1h
        |FROM e
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts
        |             RANGE BETWEEN INTERVAL 1 HOUR PRECEDING
        |                       AND CURRENT ROW)
        |ORDER BY user_id, ts, event_id""".stripMargin,
    "win_pattern_runs" ->
      """WITH e AS (
        |  SELECT user_id, event_id, value,
        |         date_trunc('microseconds', ts) AS ts
        |  FROM events),
        |b AS (
        |  SELECT user_id, event_id, ts,
        |         CASE WHEN value > lag(value, 1) OVER w THEN 0 ELSE 1 END
        |           AS brk
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |runs AS (
        |  SELECT user_id,
        |         sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                        ROWS UNBOUNDED PRECEDING) AS run_id
        |  FROM b),
        |lens AS (
        |  SELECT user_id, run_id, count(*) AS run_len
        |  FROM runs GROUP BY user_id, run_id)
        |SELECT user_id, CAST(max(run_len) AS BIGINT) AS longest_run,
        |       CAST(count(*) AS BIGINT) AS n_runs
        |FROM lens GROUP BY user_id ORDER BY user_id""".stripMargin,
    "win_sweep_concurrency" ->
      """WITH iv AS (
        |  SELECT CAST(o_orderdate AS DATE) AS s,
        |         CAST(o_orderdate AS DATE)
        |           + CAST(o_orderkey % 30 + 1 AS INTEGER) AS e
        |  FROM orders),
        |d AS (
        |  SELECT s AS day, CAST(1 AS BIGINT) AS delta FROM iv
        |  UNION ALL
        |  SELECT e + 1, CAST(-1 AS BIGINT) FROM iv),
        |t AS (
        |  SELECT day, CAST(sum(delta) AS BIGINT) AS net
        |  FROM d GROUP BY day)
        |SELECT day, net,
        |       CAST(sum(net) OVER (ORDER BY day
        |         ROWS UNBOUNDED PRECEDING) AS BIGINT) AS active
        |FROM t ORDER BY day""".stripMargin,
    "attr_last_touch" ->
      """WITH e AS (
        |  SELECT user_id, event_id, event_type,
        |         epoch_us(date_trunc('microseconds', ts)) AS us
        |  FROM events),
        |t AS (
        |  SELECT user_id, event_type, us,
        |         max(CASE WHEN event_type = 'click' THEN us END) OVER w AS lc,
        |         max(CASE WHEN event_type = 'view' THEN us END) OVER w AS lv
        |  FROM e
        |  WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        |p AS (
        |  SELECT CASE
        |           WHEN lc IS NULL AND lv IS NULL THEN 'none'
        |           WHEN lv IS NULL OR (lc IS NOT NULL AND lc > lv) THEN
        |             CASE WHEN us - lc <= 604800000000
        |                  THEN 'click' ELSE 'stale' END
        |           ELSE
        |             CASE WHEN us - lv <= 604800000000
        |                  THEN 'view' ELSE 'stale' END
        |         END AS channel
        |  FROM t WHERE event_type = 'purchase')
        |SELECT channel, CAST(count(*) AS BIGINT) AS conversions
        |FROM p GROUP BY channel ORDER BY channel""".stripMargin,
    "win_sessionize" ->
      """WITH e AS (
        |  SELECT user_id, event_id, value,
        |         date_trunc('microseconds', ts) AS ts
        |  FROM events),
        |b AS (
        |  SELECT user_id, event_id, value, ts,
        |         CASE WHEN epoch_us(ts) - epoch_us(lag(ts, 1) OVER w)
        |                   > 30 * 60 * 1000000 THEN 1 ELSE 0 END AS brk
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sess AS (
        |  SELECT user_id, value, ts,
        |         sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                        ROWS UNBOUNDED PRECEDING) AS sess_id
        |  FROM b)
        |SELECT user_id, CAST(sess_id AS BIGINT) AS sess_id,
        |       CAST(count(*) AS BIGINT) AS n_events,
        |       min(ts) AS s_start, max(ts) AS s_end,
        |       CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sess_value
        |FROM sess GROUP BY user_id, sess_id
        |ORDER BY user_id, sess_id""".stripMargin,
    "win_gap_fill" ->
      """WITH daily AS (
        |  SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
        |         sum(CAST(value AS DECIMAL(12,2))) AS total
        |  FROM events GROUP BY 1, 2),
        |spine AS (
        |  SELECT user_id,
        |         CAST(unnest(generate_series(CAST(min(day) AS TIMESTAMP),
        |              CAST(max(day) AS TIMESTAMP), INTERVAL '1 day'))
        |              AS DATE) AS day
        |  FROM daily GROUP BY user_id)
        |SELECT s.user_id, s.day,
        |       CAST(last_value(d.total IGNORE NULLS) OVER (
        |         PARTITION BY s.user_id ORDER BY s.day
        |         ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS total,
        |       d.total IS NULL AS is_filled
        |FROM spine s LEFT JOIN daily d
        |  ON s.user_id = d.user_id AND s.day = d.day
        |ORDER BY s.user_id, s.day""".stripMargin,
    // the native AggregateWindowFunction must label identically to the
    // lag+cumsum idiom — one oracle serves both keys
    "win_sessionize_native" ->
      """WITH e AS (
        |  SELECT user_id, event_id, value,
        |         date_trunc('microseconds', ts) AS ts
        |  FROM events),
        |b AS (
        |  SELECT user_id, event_id, value, ts,
        |         CASE WHEN epoch_us(ts) - epoch_us(lag(ts, 1) OVER w)
        |                   > 30 * 60 * 1000000 THEN 1 ELSE 0 END AS brk
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sess AS (
        |  SELECT user_id, value, ts,
        |         sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                        ROWS UNBOUNDED PRECEDING) AS sess_id
        |  FROM b)
        |SELECT user_id, CAST(sess_id AS BIGINT) AS sess_id,
        |       CAST(count(*) AS BIGINT) AS n_events,
        |       min(ts) AS s_start, max(ts) AS s_end,
        |       CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sess_value
        |FROM sess GROUP BY user_id, sess_id
        |ORDER BY user_id, sess_id""".stripMargin,
    "win_distribution_ranks" ->
      """WITH counts AS (
        |  SELECT user_id, count(*) AS n_events FROM events GROUP BY user_id)
        |SELECT user_id, CAST(n_events AS BIGINT) AS n_events,
        |       percent_rank() OVER w AS pct_rank,
        |       cume_dist() OVER w AS cume,
        |       CAST(ntile(10) OVER w AS INTEGER) AS decile
        |FROM counts
        |WINDOW w AS (ORDER BY n_events, user_id)
        |ORDER BY user_id""".stripMargin,
    "funnel_stages" ->
      """WITH ev AS (
        |  SELECT user_id, date_trunc('microseconds', ts) AS ts, event_type
        |  FROM events),
        |users AS (SELECT DISTINCT user_id FROM ev),
        |v AS (SELECT user_id, min(ts) AS fv FROM ev
        |      WHERE event_type = 'view' GROUP BY 1),
        |c AS (SELECT e.user_id, min(e.ts) AS fc
        |      FROM ev e JOIN v ON e.user_id = v.user_id
        |      WHERE e.event_type = 'click' AND e.ts >= v.fv
        |        AND e.ts <= v.fv + INTERVAL 1 DAY GROUP BY 1),
        |p AS (SELECT e.user_id, min(e.ts) AS fp
        |      FROM ev e JOIN c ON e.user_id = c.user_id
        |      WHERE e.event_type = 'purchase' AND e.ts >= c.fc
        |        AND e.ts <= c.fc + INTERVAL 1 DAY GROUP BY 1)
        |SELECT CASE WHEN p.fp IS NOT NULL THEN 3
        |            WHEN c.fc IS NOT NULL THEN 2
        |            WHEN v.fv IS NOT NULL THEN 1
        |            ELSE 0 END AS funnel_stage,
        |       CAST(count(*) AS BIGINT) AS n_users
        |FROM users u
        |LEFT JOIN v ON u.user_id = v.user_id
        |LEFT JOIN c ON u.user_id = c.user_id
        |LEFT JOIN p ON u.user_id = p.user_id
        |GROUP BY 1 ORDER BY funnel_stage""".stripMargin,
    "funnel_conversion" ->
      """WITH ev AS (
        |  SELECT user_id, date_trunc('microseconds', ts) AS ts, event_type
        |  FROM events),
        |users AS (SELECT DISTINCT user_id FROM ev),
        |v AS (SELECT user_id, min(ts) AS fv FROM ev
        |      WHERE event_type = 'view' GROUP BY 1),
        |c AS (SELECT e.user_id, min(e.ts) AS fc
        |      FROM ev e JOIN v ON e.user_id = v.user_id
        |      WHERE e.event_type = 'click' AND e.ts >= v.fv
        |        AND e.ts <= v.fv + INTERVAL 1 DAY GROUP BY 1),
        |p AS (SELECT e.user_id, min(e.ts) AS fp
        |      FROM ev e JOIN c ON e.user_id = c.user_id
        |      WHERE e.event_type = 'purchase' AND e.ts >= c.fc
        |        AND e.ts <= c.fc + INTERVAL 1 DAY GROUP BY 1),
        |sc AS (
        |  SELECT CASE WHEN p.fp IS NOT NULL THEN 3
        |              WHEN c.fc IS NOT NULL THEN 2
        |              WHEN v.fv IS NOT NULL THEN 1
        |              ELSE 0 END AS funnel_stage,
        |         CAST(count(*) AS BIGINT) AS n_users
        |  FROM users u
        |  LEFT JOIN v ON u.user_id = v.user_id
        |  LEFT JOIN c ON u.user_id = c.user_id
        |  LEFT JOIN p ON u.user_id = p.user_id
        |  GROUP BY 1),
        |ap AS (
        |  SELECT funnel_stage, n_users,
        |         CAST(sum(n_users) OVER (ORDER BY funnel_stage DESC
        |           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_at_or_past
        |  FROM sc)
        |SELECT funnel_stage, n_users, n_at_or_past,
        |       round_even(CAST(n_at_or_past AS DOUBLE) /
        |         CAST(lag(n_at_or_past) OVER (ORDER BY funnel_stage)
        |              AS DOUBLE), 8) AS conv_from_prev
        |FROM ap ORDER BY funnel_stage""".stripMargin,
    "win_latest_row" ->
      """SELECT user_id, event_id, event_type, value FROM (
        |  SELECT *, row_number() OVER (PARTITION BY user_id
        |    ORDER BY date_trunc('microseconds', ts) DESC, event_id DESC) AS rn
        |  FROM events) WHERE rn = 1 ORDER BY user_id""".stripMargin,
    "win_last_nonnull" ->
      """SELECT event_id, user_id,
        |       last_value(CASE WHEN event_type = 'click' THEN NULL ELSE value END IGNORE NULLS)
        |         OVER (PARTITION BY user_id
        |               ORDER BY date_trunc('microseconds', ts), event_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled
        |FROM events ORDER BY event_id""".stripMargin,
    "win_rolling_frame" ->
      """SELECT event_id, user_id,
        |       round_even(sum(coalesce(value, 0))
        |         OVER (PARTITION BY user_id
        |               ORDER BY date_trunc('microseconds', ts), event_id
        |               ROWS BETWEEN 3 PRECEDING AND CURRENT ROW), 2) AS ttm_asof
        |FROM events ORDER BY event_id""".stripMargin,
    "win_rank_topk" ->
      """SELECT o_custkey, rk, drk, quartile, pct_rank, cume, o_orderkey,
        |       o_totalprice, prev_price, next_price FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |         CAST(row_number() OVER w AS INTEGER) AS rk,
        |         CAST(dense_rank() OVER w AS INTEGER) AS drk,
        |         CAST(ntile(4) OVER w AS INTEGER) AS quartile,
        |         round_even(percent_rank() OVER w, 6) AS pct_rank,
        |         round_even(cume_dist() OVER w, 6) AS cume,
        |         lag(o_totalprice, 1) OVER w AS prev_price,
        |         lead(o_totalprice, 1) OVER w AS next_price
        |  FROM orders
        |  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
        |) WHERE rk <= 3 ORDER BY o_custkey, rk""".stripMargin,
    "sort_limit" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin,
    "sort_output" ->
      """SELECT r_name, n_name, n_nationkey
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        |ORDER BY r_name ASC, n_name DESC""".stripMargin)
}
