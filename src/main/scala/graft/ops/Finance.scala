package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Market-data aggregates over the `events` stream table [N] — the
  * windows the reference's consumers compute downstream of its price
  * snapshots (time- and volume-weighted averages), expressed as one
  * window pass + one hash aggregate each.
  *
  * Float determinism: `value` carries exactly two decimals, so
  * `decimal(12,2)` weights make every weighted sum EXACT and
  * order-invariant; the single division to a double happens once per
  * group at the output boundary (never an incremental mean) — the same
  * discipline as [[TpchDeep]].
  */
object Finance extends graft.QueryModule {

  private def dec(c: String) = col(c).cast("decimal(12,2)")

  /** Time-weighted average price per user: each observation holds until
    * the next one, so its weight is the gap to the successor in
    * microseconds (exact integers); the last observation of a user has
    * no successor and carries no weight — the standard left-closed TWAP.
    * One window pass (lead), one hash agg. */
  private def twap(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    Tables.events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      .withColumn("next_ts", lead(col("ts"), 1).over(w))
      .filter(col("next_ts").isNotNull)
      .withColumn("w_us", unix_micros(col("next_ts")) - unix_micros(col("ts")))
      .groupBy(col("user_id"))
      // the exact-decimal numerator exceeds 2^53 units here, where
      // decimal->double conversion rounds differently across engines by
      // 1 ULP; a generic division is safe to pin at 6dp banker's
      .agg(bround(sum(dec("value") * col("w_us")).cast("double") /
        sum(col("w_us")).cast("double"), 6).as("twap"),
        sum(col("w_us")).as("span_us"))
      .orderBy("user_id")
  }

  /** Volume-weighted average price per user: volume rides the event's
    * JSON props (`$.k`); zero-volume ticks carry no weight and drop
    * before the aggregate, so the denominator is always positive for
    * every emitted user. */
  private def vwap(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(col("user_id"), col("value"),
        get_json_object(col("props"), "$.k").cast("int").as("vol"))
      .filter(col("vol") > 0)
      .groupBy(col("user_id"))
      .agg((sum(dec("value") * col("vol")).cast("double") /
        sum(col("vol")).cast("double")).as("vwap"),
        sum(col("vol")).cast("bigint").as("total_vol"))
      .orderBy("user_id")

  /** Daily OHLC candles per user: open/close pinned by the first/last
    * tick timestamp of the (user, day) group via `min_by`/`max_by` — one
    * hash aggregate with map-side partials, no window sort. `(user_id,
    * ts)` is unique in the generated data at every SF (asserted in
    * FinanceSpec), so the ordering key needs no tie-break column. */
  private def ohlc(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(col("user_id"), date_trunc("day", col("ts")).cast("date").as("day"),
        col("ts"), col("value"))
      .groupBy(col("user_id"), col("day"))
      .agg(
        min_by(col("value"), col("ts")).as("open"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        max_by(col("value"), col("ts")).as("close"),
        count(lit(1)).as("n_ticks"))
      .orderBy("user_id", "day")

  /** Realized volatility per user from consecutive-tick simple returns.
    *
    * Float determinism: the return `v/prev - 1` uses only IEEE-defined
    * ops (bit-exact across engines); each return is then pinned to a
    * fixed decimal before the SUM so the aggregate is order-invariant,
    * and the one decimal->double conversion per group is rounded at 6dp
    * (same discipline as [[twap]] — the unscaled sums exceed 2^53). */
  private def volatility(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"))
    Tables.events(s, d)
      .select(col("user_id"), col("ts"), col("value"))
      .filter(col("value") > 0)
      .withColumn("prev", lag(col("value"), 1).over(w))
      .filter(col("prev").isNotNull)
      .withColumn("ret", col("value") / col("prev") - lit(1.0))
      .select(col("user_id"),
        bround(col("ret"), 12).cast("decimal(24,12)").as("ret_d"),
        bround(col("ret") * col("ret"), 14).cast("decimal(30,14)").as("ret2_d"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_ret"),
        bround(sum(col("ret_d")).cast("double"), 6).as("sum_ret"),
        // the n_ret >= 2 filter below drops 1-return groups, but guard the
        // division anyway: bround(Inf) must never evaluate for them
        bround(when(count(lit(1)) > 1, sqrt(sum(col("ret2_d")).cast("double") /
          (count(lit(1)) - lit(1)).cast("double"))), 6).as("realized_vol"))
      .filter(col("n_ret") >= 2)
      .orderBy("user_id")
  }

  /** Maximum drawdown per user: the worst peak-to-trough value ratio
    * over the tick sequence — running max (one window pass), per-tick
    * drawdown `v / peak − 1` (IEEE divide, bit-exact both engines),
    * then one hash agg for the minimum. Double throughout: no sums, so
    * no ordering hazard to pin. */
  private def drawdown(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      .withColumn("peak", max(col("value")).over(w))
      .groupBy(col("user_id"))
      .agg(min(col("value") / col("peak") - lit(1.0)).as("max_drawdown"),
        max(col("peak")).as("peak_value"))
      .orderBy("user_id")
  }

  /** Exponentially weighted moving average with DYADIC decay [N]:
    * α = 0.5 makes every weight a power of two — exact in IEEE — and
    * both engines run the SAME left-to-right Horner fold over the
    * trailing-16 frame (`aggregate(arr, 0.0, (acc,x) -> acc*0.5 + x)`
    * ≡ DuckDB `list_reduce`, whose first-element init coincides with
    * the zero-init fold after one step), so the result is bit-exact
    * with no rounding discipline beyond the output pin. A general α
    * would make the fold order-sensitive in the last ULP; the dyadic
    * choice is the float-determinism discipline applied to recursion.
    * Bounded frame → O(16) state per row at any scale. */
  private def ewma(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id")).rowsBetween(-15, 0)
    Tables.events(s, d)
      .filter(col("value").isNotNull)
      .select(col("user_id"), col("ts"), col("event_id"),
        dec("value").cast("double").as("v"))
      .withColumn("arr", collect_list(col("v")).over(w))
      .select(col("user_id"), col("event_id"),
        bround(expr("aggregate(arr, 0.0D, (acc, x) -> acc * 0.5D + x)") /
          expr("aggregate(arr, 0.0D, (acc, x) -> acc * 0.5D + 1.0D)"), 8)
          .as("ewma"))
      .orderBy("user_id", "event_id")
  }

  /** Trailing-8 compounded growth factor per user [N] — Π(1 + rᵢ) over a
    * bounded ordered frame, the multiplicative twin of the rolling sum
    * and the op behind drawdown-free compounding, chained FX, and decay
    * products. Spark has NO product aggregate; this is the repo's
    * [[graft.functions.ProductAgg]] (a DeclarativeAggregate — pure
    * expressions, whole-stage-codegen'd in the window path, the sixth
    * distinct Catalyst extension shape here). Determinism: the frame's
    * TOTAL order (ts, event_id) makes the window evaluation a strict
    * left-to-right IEEE fold, which DuckDB's `product()` window mirrors
    * (same sequence, same rounding — FinanceSpec also cross-checks a
    * driver-side fold); the merge-order-dependent GROUPED form is
    * deliberately not used here. */
  /** Historical VaR(5%) and CVaR per user [N]: the exact lower 5th
    * percentile of observed values (smallest v with 20·cum ≥ total —
    * the [[Aggs.weightedMedian]] division-free cumsum discipline at
    * weight 1) and the mean of the tail at or below it. No
    * interpolation, no sampling: exact decimal comparisons pick the
    * quantile, one exact decimal sum + one IEEE division compute the
    * expected shortfall. Ties collapse first, so the window runs on the
    * per-user distinct-value domain. */
  private def varCvar(s: SparkSession, d: String): DataFrame = {
    val vals = Tables.events(s, d).filter(col("value").isNotNull)
      .select(col("user_id"), col("value").cast("decimal(12,2)").as("v"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("v"))
    val var5 = vals.groupBy(col("user_id"), col("v"))
      .agg(count(lit(1)).as("c"))
      .select(col("user_id"), col("v"),
        sum(col("c")).over(w).as("cum"),
        sum(col("c")).over(Window.partitionBy(col("user_id"))).as("tot"))
      .filter(col("cum") * 20 >= col("tot"))
      .groupBy(col("user_id")).agg(min(col("v")).as("var5"))
    vals.join(var5, "user_id")
      .filter(col("v") <= col("var5"))
      .groupBy(col("user_id"), col("var5"))
      .agg(count(lit(1)).as("n_tail"),
        bround(sum(col("v")).cast("double") /
          count(lit(1)).cast("double"), 8).as("cvar5"))
      .select(col("user_id"), col("var5").cast("double").as("var5"),
        col("cvar5"), col("n_tail"))
      .orderBy("user_id")
  }

  private def compoundReturn(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id")).rowsBetween(-7, 0)
    Tables.events(s, d)
      .filter(col("value").isNotNull)
      .select(col("user_id"), col("ts"), col("event_id"),
        (lit(1.0) + bround(col("value"), 2) / lit(1000.0)).as("f"))
      .select(col("user_id"), col("event_id"),
        bround(call_function("graft_product", col("f")).over(w), 10)
          .as("compound"))
      .orderBy("user_id", "event_id")
  }

  /** Calendar gap-fill [N] — the resample-to-daily-grid operator every
    * time-series warehouse needs and no Spark built-in provides: rows
    * that don't exist get CREATED. Per user: daily close (max_by over
    * the unique (user, ts) keys), a generated date spine
    * (`sequence(min_day, max_day)` + explode — spine length is the
    * user's day span, bounded by calendar not by data volume), a left
    * join back, and a forward fill (`last ignoreNulls` over the spine
    * order). All decimal/integer until the output cast, so the fill is
    * deterministic at any partitioning. The spine explode is map-side
    * (no shuffle beyond the two hash-aggs + the equi-join); at 100 TB
    * the spine is |users| × |days| — grid-sized, never event-sized. */
  private def gapfill(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.events(s, d)
      .filter(col("value").isNotNull)
      .select(col("user_id"), to_date(col("ts")).as("day"),
        col("ts"), dec("value").as("v"))
      .groupBy(col("user_id"), col("day"))
      .agg(max_by(col("v"), col("ts")).as("close"))
    val spine = daily.groupBy("user_id")
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(col("user_id"), explode(sequence(col("d0"), col("d1"))).as("day"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
    spine.join(daily, Seq("user_id", "day"), "left")
      .withColumn("filled",
        last(col("close"), ignoreNulls = true).over(w).cast("double"))
      .withColumn("is_gap", col("close").isNull)
      .select(col("user_id"), col("day"), col("filled"), col("is_gap"))
      .orderBy("user_id", "day")
  }

  /** Lag-1 autocorrelation per series [N] — the mean-reversion /
    * momentum screen: Pearson correlation between each event's value
    * and its predecessor's, on the [[graft.ops.Aggs]] `agg_corr_exact`
    * discipline (exact decimal/long sufficient statistics — order-
    * invariant, so partition count can't move a bit — then each
    * coefficient assembled ONCE per group in a pinned IEEE expression
    * order). One window pass builds the (prev, cur) pairs, one
    * hash-agg reduces them; groups with too few pairs or zero variance
    * are filtered rather than emitted as NaN. */
  private def autocorr(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    def dd(c: org.apache.spark.sql.Column) = c.cast("double")
    Tables.events(s, d)
      .filter(col("value").isNotNull)
      .select(col("user_id"), col("ts"), col("event_id"),
        dec("value").as("y"))
      .withColumn("x", lag(col("y"), 1).over(w))
      .filter(col("x").isNotNull)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sx2"),
        sum(col("y") * col("y")).as("sy2"))
      .filter(col("n") >= 3 &&
        dd(col("n")) * dd(col("sx2")) - dd(col("sx")) * dd(col("sx")) > 0 &&
        dd(col("n")) * dd(col("sy2")) - dd(col("sy")) * dd(col("sy")) > 0)
      .select(col("user_id"), col("n"),
        bround((dd(col("n")) * dd(col("sxy")) - dd(col("sx")) * dd(col("sy"))) /
          (sqrt(dd(col("n")) * dd(col("sx2")) - dd(col("sx")) * dd(col("sx"))) *
           sqrt(dd(col("n")) * dd(col("sy2")) - dd(col("sy")) * dd(col("sy")))),
          8).as("autocorr"))
      .orderBy("user_id")
  }

  /** Year-over-year growth [N] — the reporting staple: monthly revenue
    * per order priority, each month paired with the same month last
    * year (lag 12 over the gap-free month sequence — the grouped
    * months are CONSECUTIVE by construction since every month trades
    * in the synthetic data; a sparse calendar would compose this with
    * [[gapfill]]). Float discipline: monthly sums are exact decimals;
    * the growth ratio is ONE double division of identical inputs on
    * both engines and ships UNROUNDED — rounding a quotient is the one
    * pinning step that can diverge (trailing-5 ties), while the raw
    * IEEE quotient is bit-identical by construction. */
  private def yoyGrowth(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_orderpriority")).orderBy(col("month"))
    Tables.orders(s, d)
      .groupBy(col("o_orderpriority"),
        date_format(col("o_orderdate"), "yyyy-MM").as("month"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("rev"))
      .withColumn("rev_ly", lag(col("rev"), 12).over(w))
      .filter(col("rev_ly").isNotNull)
      .select(col("o_orderpriority"), col("month"),
        col("rev").cast("double").as("rev"),
        col("rev_ly").cast("double").as("rev_ly"),
        ((col("rev") - col("rev_ly")).cast("double") /
          col("rev_ly").cast("double")).as("yoy"))
      .orderBy("o_orderpriority", "month")
  }

  /** Classical additive seasonal decomposition [N] — the
    * trend/seasonal/remainder split (STL's classical ancestor) on the
    * monthly revenue series: trend = centered 12-month moving average
    * (complete windows only), seasonal = month-of-year mean of the
    * detrended series, remainder = the rest.
    *
    * Float discipline: the detrended value is kept as the EXACT decimal
    * numerator 12·rev − Σ₁₂rev (never rev − trend in doubles — the
    * month-of-year mean would then sum doubles in engine-dependent
    * order), so the seasonal mean is one division of exact decimal
    * sums. Widths are tightened to (20,2)/(24,2) BEFORE multiplying —
    * DuckDB silently degrades decimal arithmetic to DOUBLE past width
    * 38 (PERF.md r8). Trend/remainder are then plain IEEE in mirrored
    * order.
    *
    * Scale shape: one hash agg from the fact table into the month
    * domain; everything after runs in the calendar-bounded domain
    * (win_skyline class), incl. the 12-row seasonal broadcast join. */
  private def seasonalDecompose(s: SparkSession, d: String): DataFrame = {
    val w = Window.orderBy(col("month")).rowsBetween(-5, 6)
    val monthly = Tables.orders(s, d)
      .groupBy(trunc(col("o_orderdate"), "month").as("month"))
      .agg(sum(col("o_totalprice").cast("decimal(12,2)"))
        .cast("decimal(20,2)").as("rev"))
    val t = monthly
      .withColumn("tsum", sum(col("rev")).over(w).cast("decimal(24,2)"))
      .withColumn("tcnt", count(col("rev")).over(w))
      .withColumn("trend",
        when(col("tcnt") === 12, col("tsum").cast("double") / lit(12.0)))
      .withColumn("dnum",
        when(col("tcnt") === 12,
          (col("rev") * 12 - col("tsum")).cast("decimal(24,2)")))
    val seas = t.filter(col("dnum").isNotNull)
      .groupBy(month(col("month")).as("moy"))
      .agg((sum(col("dnum")).cast("double") /
        (lit(12.0) * count(lit(1)))).as("seasonal"))
    t.withColumn("moy", month(col("month")))
      .join(broadcast(seas), "moy")
      .select(col("month"), col("rev").cast("double").as("rev"),
        col("trend"), col("seasonal"),
        (col("rev").cast("double") - col("trend") - col("seasonal"))
          .as("remainder"))
      .orderBy("month")
  }

  private val seasonalDecomposeOracle =
    """WITH monthly AS (
      |  SELECT date_trunc('month', o_orderdate) AS month,
      |         CAST(sum(CAST(o_totalprice AS DECIMAL(12,2)))
      |              AS DECIMAL(20,2)) AS rev
      |  FROM orders GROUP BY 1),
      |t AS (
      |  SELECT month, rev,
      |         CAST(sum(rev) OVER w AS DECIMAL(24,2)) AS tsum,
      |         count(rev) OVER w AS tcnt
      |  FROM monthly
      |  WINDOW w AS (ORDER BY month
      |               ROWS BETWEEN 5 PRECEDING AND 6 FOLLOWING)),
      |t2 AS (
      |  SELECT month, rev,
      |         CASE WHEN tcnt = 12
      |              THEN CAST(tsum AS DOUBLE) / 12.0 END AS trend,
      |         CASE WHEN tcnt = 12
      |              THEN CAST(rev * 12 - tsum AS DECIMAL(24,2)) END AS dnum
      |  FROM t),
      |seas AS (
      |  SELECT month(month) AS moy,
      |         CAST(sum(dnum) AS DOUBLE) / (12.0 * count(*)) AS seasonal
      |  FROM t2 WHERE dnum IS NOT NULL GROUP BY 1)
      |SELECT CAST(t2.month AS DATE) AS month, CAST(rev AS DOUBLE) AS rev,
      |       trend, seasonal,
      |       CAST(rev AS DOUBLE) - trend - seasonal AS remainder
      |FROM t2 JOIN seas ON month(t2.month) = seas.moy
      |ORDER BY month""".stripMargin

  /** STL-style anomaly flags [N] — the composition a monitoring
    * pipeline actually ships: deseasonalize ([[seasonalDecompose]]),
    * then flag months whose remainder sits beyond 3 robust sigmas
    * (MAD), with both medians as rank SELECTIONS over the bounded
    * month domain (no float accumulation anywhere — the remainder
    * doubles are identical on both engines, so selections and the
    * 3·MAD compare agree exactly). The oracle NESTS the decompose
    * oracle text (the eval_scorecard discipline), so the two keys
    * cannot drift apart. */
  private def tsAnomaly(s: SparkSession, d: String): DataFrame = {
    val dec = seasonalDecompose(s, d)
      .filter(col("trend").isNotNull)
      .select(col("month"), col("remainder"))
      .localCheckpoint()
    val n = dec.count()
    val med = dec.withColumn("rn", row_number().over(
        Window.orderBy(col("remainder"), col("month"))))
      .filter(col("rn") === lit((n + 1) / 2))
      .select(col("remainder").as("med"))
    val dev = dec.crossJoin(broadcast(med))
      .withColumn("dev", abs(col("remainder") - col("med")))
    val mad = dev.withColumn("rn", row_number().over(
        Window.orderBy(col("dev"), col("month"))))
      .filter(col("rn") === lit((n + 1) / 2))
      .select(col("dev").as("mad"))
    dev.crossJoin(broadcast(mad))
      .select(col("month"), col("remainder"), col("med"), col("mad"),
        (col("dev") > col("mad") * 3).as("is_anomaly"))
      .orderBy("month")
  }

  private val tsAnomalyOracle =
    s"""WITH dec AS MATERIALIZED (
       |${seasonalDecomposeOracle.linesIterator.map("  " + _).mkString("\n")}
       |),
       |d2 AS (SELECT month, remainder FROM dec WHERE trend IS NOT NULL),
       |nn AS (SELECT count(*) AS n FROM d2),
       |med AS (
       |  SELECT remainder AS med FROM (
       |    SELECT remainder,
       |           row_number() OVER (ORDER BY remainder, month) AS rn
       |    FROM d2) s CROSS JOIN nn WHERE rn = (n + 1) // 2),
       |dev AS (
       |  SELECT month, remainder, med, abs(remainder - med) AS dev
       |  FROM d2 CROSS JOIN med),
       |mad AS (
       |  SELECT dev AS mad FROM (
       |    SELECT dev, row_number() OVER (ORDER BY dev, month) AS rn
       |    FROM dev) s CROSS JOIN nn WHERE rn = (n + 1) // 2)
       |SELECT month, remainder, med, mad, dev > mad * 3 AS is_anomaly
       |FROM dev CROSS JOIN mad
       |ORDER BY month""".stripMargin

  /** Relative Strength Index [N] (Wilder's RSI, simple-average form over
    * a 14-tick window): gains/losses from consecutive value diffs, then
    * RSI = 100·Σgain/(Σgain+Σloss) — algebraically equal to
    * 100 − 100/(1+RS) with the /14s cancelled, leaving ONE IEEE division
    * of exact decimal sums (and no division-by-zero branch when a window
    * is all-gain). Flat windows (Σgain+Σloss = 0) drop by declared
    * semantics. Two window passes on one (user, ts, event_id) ordering:
    * lag for the diff, a rows-frame sum pair for the window. */
  private def rsi(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val wf = w.rowsBetween(-13, 0)
    Tables.events(s, d)
      .filter(col("value").isNotNull)
      .select(col("user_id"), col("ts"), col("event_id"),
        col("value").cast("decimal(12,2)").as("v"))
      .withColumn("diff", col("v") - lag(col("v"), 1).over(w))
      .withColumn("gain",
        when(col("diff") > 0, col("diff")).otherwise(lit(0).cast("decimal(12,2)")))
      .withColumn("loss",
        when(col("diff") < 0, -col("diff")).otherwise(lit(0).cast("decimal(12,2)")))
      .withColumn("sg", sum(col("gain")).over(wf).cast("decimal(20,2)"))
      .withColumn("sl", sum(col("loss")).over(wf).cast("decimal(20,2)"))
      .withColumn("n_diffs", count(col("diff")).over(wf))
      .filter(col("n_diffs") === 14 && (col("sg") + col("sl")) > 0)
      .select(col("user_id"), col("ts"), col("event_id"),
        (lit(100.0) * col("sg").cast("double") /
          (col("sg") + col("sl")).cast("double")).as("rsi"))
      .orderBy("user_id", "ts", "event_id")
  }

  /** CAPM-style beta per priority segment against the "market" (total
    * daily revenue): β_g = cov(x_g, m)/var(m), α_g = x̄_g − β_g·m̄ over
    * the CALENDAR-BOUNDED day domain. One data-scale hash agg builds
    * the (segment, day) exact $1000-bin revenue cells; the market
    * series is a second day-level agg joined back by day (both
    * domain-sized); the five power sums per segment accumulate as
    * decimal(38,0) (skewKurt overflow discipline — m_d² sums cross
    * 2⁵³ near SF 100) and convert to double once for the closed
    * form. */
  private def beta(s: SparkSession, d: String): DataFrame = {
    val cells = Tables.orders(s, d)
      .groupBy(col("o_orderpriority").as("g"),
        col("o_orderdate").cast("date").as("day"))
      .agg(sum(expr("(cast(cast(o_totalprice as decimal(12,2)) * 100" +
        " as bigint)) div 100000")).as("x"))
      .localCheckpoint() // reused: per-segment series + the market rollup
    val market = cells.groupBy(col("day")).agg(sum(col("x")).as("m"))
    cells.join(market, "day")
      .groupBy(col("g"))
      .agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("m")).as("sm"),
        sum((col("x") * col("m")).cast("decimal(38,0)")).as("sxm"),
        sum((col("m") * col("m")).cast("decimal(38,0)")).as("smm"))
      .selectExpr("g", "cast(n as bigint) as n",
        "cast(n as double) as nd", "cast(sx as double) as sxd",
        "cast(sm as double) as smd", "cast(sxm as double) as sxmd",
        "cast(smm as double) as smmd")
      .selectExpr("g", "n",
        "(sxmd - sxd * smd / nd) / (smmd - smd * smd / nd) as beta",
        "sxd / nd as x_mean", "smd / nd as m_mean")
      .selectExpr("g", "n", "beta",
        "x_mean - beta * m_mean as alpha")
      .orderBy("g")
  }

  private val betaOracle =
    """WITH cells AS (
      |  SELECT o_orderpriority AS g, CAST(o_orderdate AS DATE) AS day,
      |         sum(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)
      |             // 100000) AS x
      |  FROM orders GROUP BY 1, 2),
      |market AS (SELECT day, sum(x) AS m FROM cells GROUP BY day),
      |a AS (
      |  SELECT g, count(*) AS n,
      |         sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(m AS HUGEINT)) AS sm,
      |         sum(CAST(x AS HUGEINT) * m) AS sxm,
      |         sum(CAST(m AS HUGEINT) * m) AS smm
      |  FROM cells JOIN market USING (day) GROUP BY g),
      |v AS (
      |  SELECT g, CAST(n AS BIGINT) AS n, CAST(n AS DOUBLE) AS nd,
      |         CAST(sx AS DOUBLE) AS sxd, CAST(sm AS DOUBLE) AS smd,
      |         CAST(sxm AS DOUBLE) AS sxmd, CAST(smm AS DOUBLE) AS smmd
      |  FROM a),
      |b AS (
      |  SELECT g, n,
      |         (sxmd - sxd * smd / nd) / (smmd - smd * smd / nd) AS beta,
      |         sxd / nd AS x_mean, smd / nd AS m_mean
      |  FROM v)
      |SELECT g, n, beta, x_mean - beta * m_mean AS alpha
      |FROM b ORDER BY g""".stripMargin

  /** Sharpe and Sortino ratios per priority segment [N] over the
    * day-level revenue-change series (rf = 0): Sharpe divides the mean
    * change by the sample stddev; Sortino divides by the downside
    * deviation (RMS of the negative changes against a 0 target). The
    * series lives on the calendar-bounded day domain; power sums are
    * exact (decimal(38,0) — the skewKurt discipline), one double
    * assembly per group. */
  private def sharpe(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("g")).orderBy(col("day"))
    val rets = Tables.orders(s, d)
      .groupBy(col("o_orderpriority").as("g"),
        col("o_orderdate").cast("date").as("day"))
      .agg(sum(expr("(cast(cast(o_totalprice as decimal(12,2)) * 100" +
        " as bigint)) div 100000")).as("r"))
      .withColumn("ret", col("r") - lag(col("r"), 1).over(w))
      .filter(col("ret").isNotNull)
    rets.groupBy(col("g"))
      .agg(count(lit(1)).as("n"), sum(col("ret")).as("sr"),
        sum((col("ret") * col("ret")).cast("decimal(38,0)")).as("q"),
        sum(when(col("ret") < 0, (col("ret") * col("ret"))
          .cast("decimal(38,0)")).otherwise(lit(0).cast("decimal(38,0)")))
          .as("qn"))
      .selectExpr("g", "cast(n as bigint) as n",
        "cast(n as double) as nd", "cast(sr as double) as srd",
        "cast(q as double) as qd", "cast(qn as double) as qnd")
      .selectExpr("g", "n",
        "(srd / nd) / sqrt((qd - srd * srd / nd) / (nd - 1.0)) as sharpe",
        "(srd / nd) / sqrt(qnd / nd) as sortino")
      .orderBy("g")
  }

  /** Hurst exponent by rescaled-range analysis [N] (Hurst 1951;
    * Mandelbrot & Wallis 1969) per priority on the daily revenue-change
    * series: for block sizes w ∈ {8,16,32}, each complete w-day block
    * yields R/S = (max cumdev − min cumdev)/σ_block; H is the log-log
    * slope of the mean R/S across the three sizes — with equally
    * log-spaced sizes the OLS slope collapses to the closed form
    * H = ln(m₃₂/m₈)/(2·ln 2). H ≈ 0.5 is a random walk, > 0.5
    * persistent trending, < 0.5 mean-reverting — the memory diagnostic
    * behind `fin_cointegration`'s pairs question.
    *
    * Exactness: returns live on the integer grid; within a block the
    * mean multiplies through (c_i = w·r_i − S_blk, the `ts_ljung_box`
    * centering), so cumulative deviations, their range, and the
    * variance numerator w·Q − S² are ALL exact integers; each block's
    * R/S is two IEEE ops, pinned at 12dp into an exact decimal mean.
    * Scale shape: one fact-scan hash agg into the day domain, then
    * window work over (priority × block) partitions of the calendar-
    * bounded series — constant post-scan cost at any SF. */
  private def hurst(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.{min => fmin, max => fmax}
    val dec38 = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
    val wDay = Window.partitionBy(col("g")).orderBy(col("day"))
    val rets = Tables.orders(s, d)
      .groupBy(col("o_orderpriority").as("g"),
        col("o_orderdate").cast("date").as("day"))
      .agg(sum(expr("(cast(cast(o_totalprice as decimal(12,2)) * 100" +
        " as bigint)) div 100000")).as("v"))
      .withColumn("r", col("v") - lag(col("v"), 1).over(wDay))
      .filter(col("r").isNotNull)
      .withColumn("t", row_number().over(wDay))
    val perW = Seq(8, 16, 32).map { w =>
      val blocks = rets
        .withColumn("blk", expr(s"(t - 1) div $w"))
        .groupBy(col("g"), col("blk"))
        .agg(count(lit(1)).as("bn"), sum(col("r")).as("bs"),
          sum(dec38(col("r")) * dec38(col("r"))).as("bq"))
        .filter(col("bn") === w)
      val wCum = Window.partitionBy(col("g"), col("blk"))
        .orderBy(col("t"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val rs = rets
        .withColumn("blk", expr(s"(t - 1) div $w"))
        .join(blocks, Seq("g", "blk"))
        .withColumn("c", sum(dec38(col("r")) * lit(w) - col("bs")).over(wCum))
        .groupBy(col("g"), col("blk"), col("bs"), col("bq"))
        .agg((fmax(col("c")) - fmin(col("c"))).as("range"))
        // R = range/w (the ×w grid divides out); S = sqrt((wQ − S²)/w²·…)
        // assembled as one mirrored expression; w is a literal
        .select(col("g"),
          bround(
            (col("range").cast("double") / lit(w.toDouble)) /
              sqrt((lit(w.toDouble) * col("bq").cast("double") -
                col("bs").cast("double") * col("bs").cast("double")) /
                (lit(w.toDouble) * lit(w.toDouble)) / lit((w - 1).toDouble)),
            12).cast("decimal(24,12)").as("rs"))
        .groupBy(col("g"))
        .agg(count(lit(1)).as(s"nb$w"),
          // 6dp, not 12: the decimal sum's unscaled value nears 2^53 at
          // 12dp (the stats_ipf_rake ULP lesson) — the mean must land on
          // a grid coarser than ULP at its magnitude
          bround(sum(col("rs")).cast("double") / count(lit(1)).cast("double"),
            6).as(s"m$w"))
      rs
    }
    perW.reduce((a, b) => a.join(b, Seq("g")))
      .select(col("g"), col("nb8"), col("nb16"), col("nb32"),
        col("m8"), col("m16"), col("m32"),
        // ln is libm territory — the engines disagreed by 1 ulp at
        // sf0.01 — so the exponent pins at 12dp like every fixpoint
        bround(log(col("m32") / col("m8")) / lit(2.0 * math.log(2.0)), 12)
          .as("hurst"))
      .orderBy("g")
  }

  private def hurstOracle: String = {
    def wBlock(w: Int): String =
      s"""bl$w AS (
         |  SELECT g, (t - 1) // $w AS blk, count(*) AS bn,
         |         sum(CAST(r AS HUGEINT)) AS bs,
         |         sum(CAST(r AS HUGEINT) * r) AS bq
         |  FROM rets GROUP BY 1, 2),
         |cum$w AS (
         |  SELECT r.g, b.blk, b.bs, b.bq,
         |         sum(CAST(r.r AS HUGEINT) * $w - b.bs)
         |           OVER (PARTITION BY r.g, b.blk ORDER BY r.t
         |                 ROWS BETWEEN UNBOUNDED PRECEDING
         |                 AND CURRENT ROW) AS c
         |  FROM rets r JOIN bl$w b
         |    ON r.g = b.g AND (r.t - 1) // $w = b.blk
         |  WHERE b.bn = $w),
         |rs$w AS (
         |  SELECT g, round_even(
         |           (CAST(rng AS DOUBLE) / $w.0) /
         |             sqrt(($w.0 * CAST(bq AS DOUBLE)
         |                 - CAST(bs AS DOUBLE) * CAST(bs AS DOUBLE))
         |               / ($w.0 * $w.0) / ${w - 1}.0), 12) AS rs
         |  FROM (
         |    SELECT g, blk, bs, bq, max(c) - min(c) AS rng
         |    FROM cum$w GROUP BY 1, 2, 3, 4) x),
         |m$w AS (
         |  SELECT g, count(*) AS nb$w,
         |         round_even(CAST(sum(CAST(rs AS DECIMAL(24,12))) AS DOUBLE)
         |           / CAST(count(*) AS DOUBLE), 6) AS m$w
         |  FROM rs$w GROUP BY g)""".stripMargin
    s"""WITH days AS (
       |  SELECT o_orderpriority AS g, CAST(o_orderdate AS DATE) AS day,
       |         sum(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)
       |             // 100000) AS v
       |  FROM orders GROUP BY 1, 2),
       |rets0 AS (
       |  SELECT g, day, v - lag(v) OVER (PARTITION BY g ORDER BY day) AS r
       |  FROM days),
       |rets AS (
       |  SELECT g, r,
       |         CAST(row_number() OVER (PARTITION BY g ORDER BY day)
       |              AS INTEGER) AS t
       |  FROM rets0 WHERE r IS NOT NULL),
       |${wBlock(8)},
       |${wBlock(16)},
       |${wBlock(32)}
       |SELECT m8.g, nb8, nb16, nb32, m8.m8, m16.m16, m32.m32,
       |       round_even(ln(m32.m32 / m8.m8) / ${2.0 * math.log(2.0)}, 12)
       |         AS hurst
       |FROM m8 JOIN m16 ON m8.g = m16.g JOIN m32 ON m8.g = m32.g
       |ORDER BY m8.g""".stripMargin
  }

  /** Parkinson range volatility [N] (Parkinson 1980) per user — the
    * high-low estimator every OHLC consumer wants next to close-to-
    * close [[volatility]]: σ²_P = Σ ln(H/L)² / (4·n·ln2), ~5× more
    * efficient per observation because the intraday range sees the
    * path, not just the endpoints. H/L come from ONE hash agg over the
    * tick scan (the [[ohlc]] shape, no window); each ln² term pins at
    * 14dp into decimal(30,14) (the [[volatility]] discipline) so the
    * per-user sum is exact and order-invariant; 4·ln2 is the shared
    * literal 2.772588722239781. Days with H = L contribute exactly 0. */
  private def parkinson(s: SparkSession, d: String): DataFrame = {
    val t = log(col("h").cast("double") / col("l").cast("double"))
    Tables.events(s, d)
      .filter(col("value") > 0)
      .select(col("user_id"),
        date_trunc("day", col("ts")).cast("date").as("day"), dec("value").as("v"))
      .groupBy(col("user_id"), col("day"))
      .agg(max(col("v")).as("h"), min(col("v")).as("l"))
      .select(col("user_id"),
        bround(t * t, 14).cast("decimal(30,14)").as("t2"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_days"),
        bround(sqrt(sum(col("t2")).cast("double") /
          (count(lit(1)).cast("double") * lit(2.772588722239781))), 6)
          .as("parkinson_vol"))
      .orderBy("user_id")
  }

  private val parkinsonOracle =
    """WITH days AS (
      |  SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
      |         max(CAST(value AS DECIMAL(12,2))) AS h,
      |         min(CAST(value AS DECIMAL(12,2))) AS l
      |  FROM events WHERE value > 0 GROUP BY 1, 2),
      |terms AS (
      |  SELECT user_id,
      |         CAST(round_even(
      |           ln(CAST(h AS DOUBLE) / CAST(l AS DOUBLE))
      |             * ln(CAST(h AS DOUBLE) / CAST(l AS DOUBLE)), 14)
      |           AS DECIMAL(30,14)) AS t2
      |  FROM days)
      |SELECT user_id, count(*) AS n_days,
      |       round_even(sqrt(CAST(sum(t2) AS DOUBLE) /
      |         (CAST(count(*) AS DOUBLE) * 2.772588722239781)), 6)
      |         AS parkinson_vol
      |FROM terms GROUP BY user_id ORDER BY user_id""".stripMargin

  /** Omega ratio [N] (Keating & Shadwick 2002) at threshold θ = 0 on
    * the same daily revenue-change series as [[sharpe]]: Ω =
    * Σ max(ret, 0) / Σ max(−ret, 0) — the full-distribution
    * gain/loss ratio that doesn't assume normality (the critique of
    * Sharpe it was built to answer). Gains/losses are exact integer
    * sums on the grid; Ω is ONE double division; the win rate is a
    * second. One fact-scan hash agg + per-group window diff — the
    * sharpe plan, different tail statistic. */
  private def omega(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("g")).orderBy(col("day"))
    val rets = Tables.orders(s, d)
      .groupBy(col("o_orderpriority").as("g"),
        col("o_orderdate").cast("date").as("day"))
      .agg(sum(expr("(cast(cast(o_totalprice as decimal(12,2)) * 100" +
        " as bigint)) div 100000")).as("r"))
      .withColumn("ret", col("r") - lag(col("r"), 1).over(w))
      .filter(col("ret").isNotNull)
    rets.groupBy(col("g"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("ret") > 0, col("ret")).otherwise(0L)).as("gains"),
        sum(when(col("ret") < 0, -col("ret")).otherwise(0L)).as("losses"),
        sum(when(col("ret") > 0, 1L).otherwise(0L)).as("n_up"))
      .select(col("g"), col("n"), col("gains"), col("losses"),
        (col("gains").cast("double") / col("losses").cast("double"))
          .as("omega"),
        (col("n_up").cast("double") / col("n").cast("double"))
          .as("win_rate"))
      .orderBy("g")
  }

  private val omegaOracle =
    """WITH days AS (
      |  SELECT o_orderpriority AS g, CAST(o_orderdate AS DATE) AS day,
      |         sum(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)
      |             // 100000) AS r
      |  FROM orders GROUP BY 1, 2),
      |rets AS (
      |  SELECT g, r - lag(r) OVER (PARTITION BY g ORDER BY day) AS ret
      |  FROM days),
      |a AS (
      |  SELECT g, count(*) AS n,
      |         sum(CASE WHEN ret > 0 THEN ret ELSE 0 END) AS gains,
      |         sum(CASE WHEN ret < 0 THEN -ret ELSE 0 END) AS losses,
      |         sum(CASE WHEN ret > 0 THEN 1 ELSE 0 END) AS n_up
      |  FROM rets WHERE ret IS NOT NULL GROUP BY g)
      |SELECT g, CAST(n AS BIGINT) AS n, CAST(gains AS BIGINT) AS gains,
      |       CAST(losses AS BIGINT) AS losses,
      |       CAST(gains AS DOUBLE) / CAST(losses AS DOUBLE) AS omega,
      |       CAST(n_up AS DOUBLE) / CAST(n AS DOUBLE) AS win_rate
      |FROM a ORDER BY g""".stripMargin

  private val sharpeOracle =
    """WITH days AS (
      |  SELECT o_orderpriority AS g, CAST(o_orderdate AS DATE) AS day,
      |         sum(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)
      |             // 100000) AS r
      |  FROM orders GROUP BY 1, 2),
      |rets AS (
      |  SELECT g, r - lag(r) OVER (PARTITION BY g ORDER BY day) AS ret
      |  FROM days),
      |a AS (
      |  SELECT g, count(*) AS n,
      |         sum(CAST(ret AS HUGEINT)) AS sr,
      |         sum(CAST(ret AS HUGEINT) * ret) AS q,
      |         sum(CASE WHEN ret < 0 THEN CAST(ret AS HUGEINT) * ret
      |                  ELSE 0 END) AS qn
      |  FROM rets WHERE ret IS NOT NULL GROUP BY g),
      |v AS (
      |  SELECT g, CAST(n AS BIGINT) AS n, CAST(n AS DOUBLE) AS nd,
      |         CAST(sr AS DOUBLE) AS srd, CAST(q AS DOUBLE) AS qd,
      |         CAST(qn AS DOUBLE) AS qnd
      |  FROM a)
      |SELECT g, n,
      |       (srd / nd) / sqrt((qd - srd * srd / nd) / (nd - 1.0)) AS sharpe,
      |       (srd / nd) / sqrt(qnd / nd) AS sortino
      |FROM v ORDER BY g""".stripMargin

  // ---- Holt linear (double-exponential) smoothing --------------------

  /** Signed half-even division by a positive constant, written so both
    * engines apply half-even to the MAGNITUDE — sidestepping the
    * truncate-vs-floor divergence Spark `div` / DuckDB `//` have on
    * negative numerators. */
  private def divHESigned(n: String, den: Long, div: String): String = {
    def pos(m: String) =
      s"(($m) $div $den + (case when (($m) % $den) * 2 > $den then 1 " +
        s"when (($m) % $den) * 2 = $den then ((($m) $div $den)) % 2 " +
        s"else 0 end))"
    s"(case when ($n) < 0 then -${pos(s"-($n)")} else ${pos(n)} end)"
  }

  /** Holt's linear-trend (double-exponential) smoothing [N] over the
    * monthly revenue series — the forecasting layer above `fin_ewma`
    * (level only) and `ts_seasonal_decompose` (non-recursive): with
    * α=0.3, β=0.1,
    *   level_m = 0.3·y_m + 0.7·(level+trend),
    *   trend_m = 0.1·(level_m − level) + 0.9·trend,
    * forecast = level + trend. The recursion is inherently sequential,
    * so it runs on the CALENDAR-BOUNDED month domain (~84 rows at any
    * SF — the textrank collected-fixpoint precedent): one corpus-scale
    * hash agg to monthly cents, then a driver-side exact-integer walk.
    * ALL state is integer cents with signed half-even division (trend
    * goes negative; truncate-vs-floor would diverge between engines) —
    * zero floats anywhere, so the series is bit-identical to the
    * oracle's recursive CTE by construction. */
  private def holtLinear(s: SparkSession, d: String): DataFrame = {
    val monthly = Tables.orders(s, d)
      .groupBy(trunc(col("o_orderdate"), "month").as("month"))
      .agg(sum((col("o_totalprice").cast("decimal(12,2)") * 100)
        .cast("long")).as("y"))
      .orderBy("month")
      .collect() // calendar-bounded (~84 months at every SF)
    def divHE(n: BigInt, den: BigInt): BigInt = {
      val a = n.abs
      val b0 = a / den; val r2 = (a % den) * 2
      val q = b0 + (if (r2 > den) BigInt(1)
                    else if (r2 == den) b0 % 2 else BigInt(0))
      if (n < 0) -q else q
    }
    val ys = monthly.map(r =>
      (r.getAs[java.sql.Date]("month"), BigInt(r.getAs[Long]("y"))))
    val out = Array.newBuilder[(java.sql.Date, Long, Long, Long, Long)]
    var level = ys(0)._2
    var trend = if (ys.length > 1) ys(1)._2 - ys(0)._2 else BigInt(0)
    out += ((ys(0)._1, ys(0)._2.toLong, level.toLong, trend.toLong,
      (level + trend).toLong))
    for (i <- 1 until ys.length) {
      val y = ys(i)._2
      val nl = divHE(y * 3 + (level + trend) * 7, 10)
      val nt = divHE((nl - level) + trend * 9, 10)
      level = nl; trend = nt
      out += ((ys(i)._1, y.toLong, level.toLong, trend.toLong,
        (level + trend).toLong))
    }
    s.createDataFrame(out.result().toSeq)
      .toDF("month", "y_cents", "level", "trend", "forecast_next")
      .orderBy("month")
  }

  private def holtLinearOracle: String = {
    val lvl = divHESigned("3 * m.y + 7 * (w.level + w.trend)", 10, "//")
    val trd = divHESigned(s"($lvl - w.level) + 9 * w.trend", 10, "//")
    s"""WITH RECURSIVE monthly AS (
       |  SELECT date_trunc('month', o_orderdate) AS month,
       |         CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100
       |           AS BIGINT)) AS BIGINT) AS y
       |  FROM orders GROUP BY 1),
       |mon AS (
       |  SELECT month, y,
       |         CAST(row_number() OVER (ORDER BY month) AS INTEGER) AS idx
       |  FROM monthly),
       |walk(i, month, y, level, trend) AS (
       |  SELECT 1, m.month, m.y, m.y,
       |         COALESCE((SELECT y FROM mon WHERE idx = 2), 0) - m.y
       |  FROM mon m WHERE m.idx = 1
       |  UNION ALL
       |  SELECT w.i + 1, m.month, m.y, $lvl, $trd
       |  FROM walk w JOIN mon m ON m.idx = w.i + 1)
       |SELECT month, y AS y_cents, level, trend,
       |       level + trend AS forecast_next
       |FROM walk ORDER BY month""".stripMargin
  }

  /** Rolling-origin forecast backtest [N]: one-step-ahead MAE of the
    * `ts_holt_linear` forecast vs the naive (last value) baseline over
    * the monthly series — the skill check that decides whether a
    * forecasting model ships. Both error sums are exact cents; the
    * means divide on the ×10⁶ integer grid (the ccnet-buckets half-grid
    * lesson), and the skill ratio is one mirrored double division.
    * Reuses the exact Holt walk; everything is month-domain sized. */
  private def backtestMae(s: SparkSession, d: String): DataFrame = {
    val w = Window.orderBy(col("month"))
    val hl = holtLinear(s, d)
      .withColumn("fc_prev", lag(col("forecast_next"), 1).over(w))
      .withColumn("y_prev", lag(col("y_cents"), 1).over(w))
      .filter(col("fc_prev").isNotNull)
      .select(
        abs(col("y_cents") - col("fc_prev")).as("e_holt"),
        abs(col("y_cents") - col("y_prev")).as("e_naive"))
    hl.agg(count(lit(1)).as("n"),
        sum(col("e_holt")).as("sh"), sum(col("e_naive")).as("sn"))
      .selectExpr("cast(n as bigint) as n",
        graft.ops.Technicals.divHESparkSql("sh * 1000000", "n")
          + " as mh6",
        graft.ops.Technicals.divHESparkSql("sn * 1000000", "n")
          + " as mn6")
      .select(col("n"),
        (col("mh6").cast("double") / lit(1.0e6)).as("mae_holt_cents"),
        (col("mn6").cast("double") / lit(1.0e6)).as("mae_naive_cents"),
        (col("mh6").cast("double") / col("mn6").cast("double"))
          .as("skill_ratio"))
  }

  private def backtestMaeOracle: String = {
    val mh6 = graft.ops.Technicals.divHEDuckSql("sh * 1000000", "n")
    val mn6 = graft.ops.Technicals.divHEDuckSql("sn * 1000000", "n")
    s"""WITH hl AS MATERIALIZED (
       |${holtLinearOracle}
       |),
       |lagged AS (
       |  SELECT y_cents,
       |         lag(forecast_next) OVER (ORDER BY month) AS fc_prev,
       |         lag(y_cents) OVER (ORDER BY month) AS y_prev
       |  FROM hl),
       |agg AS (
       |  SELECT count(*) AS n,
       |         sum(abs(y_cents - fc_prev)) AS sh,
       |         sum(abs(y_cents - y_prev)) AS sn
       |  FROM lagged WHERE fc_prev IS NOT NULL)
       |SELECT CAST(n AS BIGINT) AS n,
       |       CAST($mh6 AS DOUBLE) / 1.0e6 AS mae_holt_cents,
       |       CAST($mn6 AS DOUBLE) / 1.0e6 AS mae_naive_cents,
       |       CAST($mh6 AS DOUBLE) / CAST($mn6 AS DOUBLE) AS skill_ratio
       |FROM agg""".stripMargin
  }

  /** Mann–Kendall trend test [N] over the monthly revenue series — the
    * standard nonparametric "is this metric trending" monitor (Mann
    * 1945, Kendall 1975): S = Σ_{i<j} sign(y_j − y_i) with the
    * tie-corrected variance Var = [n(n−1)(2n+5) − Σ_t t(t−1)(2t+5)]/18
    * and Z = (S ∓ 1)/√Var. S, n, and the tie term are EXACT integers
    * (the pair expansion runs on the calendar-bounded month domain,
    * ~84² /2 pairs — never data-scale); Z is one double expression over
    * identical exact operands. |Z| > 1.96 flags a trend at 5%. */
  private def mannKendall(s: SparkSession, d: String): DataFrame = {
    val monthly = Tables.orders(s, d)
      .groupBy(trunc(col("o_orderdate"), "month").as("month"))
      .agg(sum((col("o_totalprice").cast("decimal(12,2)") * 100)
        .cast("long")).as("y"))
      .localCheckpoint()
    val pairs = monthly.as("a").join(monthly.as("b"),
        col("a.month") < col("b.month"))
      .agg(sum(signum(col("b.y") - col("a.y")).cast("long")).as("s"))
    val ties = monthly.groupBy(col("y")).agg(count(lit(1)).as("t"))
      .agg(coalesce(sum(expr("t * (t - 1) * (2 * t + 5)")), lit(0L))
        .as("tie_term"), count(lit(1)).as("n_distinct"))
    val n = monthly.agg(count(lit(1)).as("n"))
    pairs.crossJoin(broadcast(n)).crossJoin(broadcast(ties))
      .selectExpr("n", "s",
        "(n * (n - 1) * (2 * n + 5) - tie_term) as var18")
      .selectExpr("n", "s", "cast(var18 as double) / 18.0 as var_s",
        "case when s > 0 then (cast(s as double) - 1)" +
          " / sqrt(cast(var18 as double) / 18.0)" +
          " when s < 0 then (cast(s as double) + 1)" +
          " / sqrt(cast(var18 as double) / 18.0) else 0.0 end as z")
      .selectExpr("n", "s", "var_s", "z", "abs(z) > 1.96 as trending")
  }

  private val mannKendallOracle =
    """WITH monthly AS (
      |  SELECT date_trunc('month', o_orderdate) AS month,
      |         CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100
      |           AS BIGINT)) AS BIGINT) AS y
      |  FROM orders GROUP BY 1),
      |p AS (
      |  SELECT CAST(sum(CASE WHEN b.y > a.y THEN 1
      |                       WHEN b.y < a.y THEN -1 ELSE 0 END) AS BIGINT)
      |           AS s
      |  FROM monthly a JOIN monthly b ON a.month < b.month),
      |t AS (
      |  SELECT CAST(COALESCE(sum(t * (t - 1) * (2 * t + 5)), 0) AS BIGINT)
      |           AS tie_term
      |  FROM (SELECT count(*) AS t FROM monthly GROUP BY y)),
      |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM monthly),
      |v AS (
      |  SELECT n, s, (n * (n - 1) * (2 * n + 5) - tie_term) AS var18
      |  FROM p, t, nn)
      |SELECT n, s, CAST(var18 AS DOUBLE) / 18.0 AS var_s,
      |       CASE WHEN s > 0 THEN (CAST(s AS DOUBLE) - 1)
      |                            / sqrt(CAST(var18 AS DOUBLE) / 18.0)
      |            WHEN s < 0 THEN (CAST(s AS DOUBLE) + 1)
      |                            / sqrt(CAST(var18 AS DOUBLE) / 18.0)
      |            ELSE 0.0 END AS z,
      |       abs(CASE WHEN s > 0 THEN (CAST(s AS DOUBLE) - 1)
      |                     / sqrt(CAST(var18 AS DOUBLE) / 18.0)
      |                WHEN s < 0 THEN (CAST(s AS DOUBLE) + 1)
      |                     / sqrt(CAST(var18 AS DOUBLE) / 18.0)
      |                ELSE 0.0 END) > 1.96 AS trending
      |FROM v""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ts_mann_kendall" -> mannKendall,
    "ts_holt_linear" -> holtLinear,
    "ts_backtest_mae" -> backtestMae,
    "ts_anomaly" -> tsAnomaly,
    "fin_sharpe" -> sharpe,
    "fin_omega" -> omega,
    "fin_parkinson" -> parkinson,
    "fin_hurst" -> hurst,
    "fin_beta" -> beta,
    "fin_rsi" -> rsi,
    "ts_seasonal_decompose" -> seasonalDecompose,
    "fin_yoy" -> yoyGrowth,
    "fin_autocorr" -> autocorr,
    "ts_gapfill" -> gapfill,
    "fin_ewma" -> ewma,
    "fin_twap" -> twap,
    "fin_vwap" -> vwap,
    "fin_ohlc" -> ohlc,
    "fin_drawdown" -> drawdown,
    "fin_volatility" -> volatility,
    "fin_compound_return" -> compoundReturn,
    "fin_var_cvar" -> varCvar)

  val oracles: Map[String, String] = Map(
    "ts_mann_kendall" -> mannKendallOracle,
    "ts_holt_linear" -> holtLinearOracle,
    "ts_backtest_mae" -> backtestMaeOracle,
    "fin_sharpe" -> sharpeOracle,
    "fin_omega" -> omegaOracle,
    "fin_parkinson" -> parkinsonOracle,
    "fin_hurst" -> hurstOracle,
    "fin_beta" -> betaOracle,
    "fin_rsi" ->
      """WITH v AS (
        |  SELECT user_id, date_trunc('microseconds', ts) AS ts, event_id,
        |         CAST(value AS DECIMAL(12,2)) AS v
        |  FROM events WHERE value IS NOT NULL),
        |d AS (
        |  SELECT user_id, ts, event_id, v,
        |         v - lag(v, 1) OVER (PARTITION BY user_id
        |                             ORDER BY ts, event_id) AS diff
        |  FROM v),
        |g AS (
        |  SELECT user_id, ts, event_id, diff,
        |         CASE WHEN diff > 0 THEN diff
        |              ELSE CAST(0 AS DECIMAL(12,2)) END AS gain,
        |         CASE WHEN diff < 0 THEN -diff
        |              ELSE CAST(0 AS DECIMAL(12,2)) END AS loss
        |  FROM d),
        |f AS (
        |  SELECT user_id, ts, event_id,
        |         CAST(sum(gain) OVER wf AS DECIMAL(20,2)) AS sg,
        |         CAST(sum(loss) OVER wf AS DECIMAL(20,2)) AS sl,
        |         count(diff) OVER wf AS n_diffs
        |  FROM g WINDOW wf AS (PARTITION BY user_id ORDER BY ts, event_id
        |                       ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
        |SELECT user_id, ts, event_id,
        |       100.0 * CAST(sg AS DOUBLE) / CAST(sg + sl AS DOUBLE) AS rsi
        |FROM f WHERE n_diffs = 14 AND sg + sl > 0
        |ORDER BY user_id, ts, event_id""".stripMargin,
    "ts_seasonal_decompose" -> seasonalDecomposeOracle,
    "ts_anomaly" -> tsAnomalyOracle,
    "fin_var_cvar" ->
      """WITH vals AS (
        |  SELECT user_id, CAST(value AS DECIMAL(12,2)) AS v
        |  FROM events WHERE value IS NOT NULL),
        |t AS (
        |  SELECT user_id, v, count(*) AS c FROM vals GROUP BY 1, 2),
        |cum AS (
        |  SELECT user_id, v,
        |         sum(c) OVER (PARTITION BY user_id ORDER BY v) AS cum,
        |         sum(c) OVER (PARTITION BY user_id) AS tot
        |  FROM t),
        |var5 AS (
        |  SELECT user_id, min(v) AS var5 FROM cum
        |  WHERE cum * 20 >= tot GROUP BY user_id)
        |SELECT vals.user_id, CAST(var5.var5 AS DOUBLE) AS var5,
        |       round_even(CAST(sum(vals.v) AS DOUBLE)
        |                  / CAST(count(*) AS DOUBLE), 8) AS cvar5,
        |       CAST(count(*) AS BIGINT) AS n_tail
        |FROM vals JOIN var5 ON vals.user_id = var5.user_id
        |WHERE vals.v <= var5.var5
        |GROUP BY vals.user_id, var5.var5
        |ORDER BY vals.user_id""".stripMargin,
    "fin_compound_return" ->
      """WITH e AS (
        |  SELECT user_id, date_trunc('microseconds', ts) AS ts, event_id,
        |         1.0 + round_even(value, 2) / 1000.0 AS f
        |  FROM events WHERE value IS NOT NULL)
        |SELECT user_id, event_id,
        |       round_even(product(f) OVER (
        |         PARTITION BY user_id ORDER BY ts, event_id
        |         ROWS BETWEEN 7 PRECEDING AND CURRENT ROW), 10) AS compound
        |FROM e ORDER BY user_id, event_id""".stripMargin,
    "fin_yoy" ->
      """WITH m AS (
        |  SELECT o_orderpriority, strftime(o_orderdate, '%Y-%m') AS month,
        |         sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
        |  FROM orders GROUP BY 1, 2),
        |l AS (
        |  SELECT o_orderpriority, month, rev,
        |         lag(rev, 12) OVER (PARTITION BY o_orderpriority
        |                            ORDER BY month) AS rev_ly
        |  FROM m)
        |SELECT o_orderpriority, month,
        |       CAST(rev AS DOUBLE) AS rev, CAST(rev_ly AS DOUBLE) AS rev_ly,
        |       CAST(rev - rev_ly AS DOUBLE) / CAST(rev_ly AS DOUBLE) AS yoy
        |FROM l WHERE rev_ly IS NOT NULL
        |ORDER BY o_orderpriority, month""".stripMargin,
    "fin_autocorr" ->
      """WITH p AS (
        |  SELECT user_id,
        |         lag(CAST(value AS DECIMAL(12,2)))
        |           OVER (PARTITION BY user_id ORDER BY ts, event_id) AS x,
        |         CAST(value AS DECIMAL(12,2)) AS y
        |  FROM events WHERE value IS NOT NULL),
        |s AS (
        |  SELECT user_id, count(*) AS n,
        |         sum(x) AS sx, sum(y) AS sy,
        |         sum(x * y) AS sxy, sum(x * x) AS sx2, sum(y * y) AS sy2
        |  FROM p WHERE x IS NOT NULL GROUP BY user_id)
        |SELECT user_id, n,
        |       round_even(
        |         (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |            - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |         / (sqrt(CAST(n AS DOUBLE) * CAST(sx2 AS DOUBLE)
        |              - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |          * sqrt(CAST(n AS DOUBLE) * CAST(sy2 AS DOUBLE)
        |              - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 8)
        |         AS autocorr
        |FROM s
        |WHERE n >= 3
        |  AND CAST(n AS DOUBLE) * CAST(sx2 AS DOUBLE)
        |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0
        |  AND CAST(n AS DOUBLE) * CAST(sy2 AS DOUBLE)
        |        - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) > 0
        |ORDER BY user_id""".stripMargin,
    // generate_series over DATEs steps in timestamps — cast back; the
    // default cumulative frame makes last_value IGNORE NULLS the
    // forward fill; day 1 always has data (it's min(day)) so filled is
    // never null
    "ts_gapfill" ->
      """WITH daily AS (
        |  SELECT user_id, CAST(ts AS DATE) AS day,
        |         arg_max(CAST(value AS DECIMAL(12,2)), ts) AS close
        |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
        |b AS (SELECT user_id, min(day) AS d0, max(day) AS d1
        |      FROM daily GROUP BY 1),
        |spine AS (
        |  SELECT user_id,
        |         CAST(unnest(generate_series(CAST(d0 AS TIMESTAMP),
        |           CAST(d1 AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS day
        |  FROM b),
        |j AS (
        |  SELECT s.user_id, s.day, d.close
        |  FROM spine s LEFT JOIN daily d USING (user_id, day))
        |SELECT user_id, day,
        |       CAST(last_value(close IGNORE NULLS)
        |              OVER (PARTITION BY user_id ORDER BY day)
        |            AS DOUBLE) AS filled,
        |       close IS NULL AS is_gap
        |FROM j ORDER BY user_id, day""".stripMargin,
    "fin_ewma" ->
      """WITH e AS (
        |  SELECT user_id, event_id, date_trunc('microseconds', ts) AS ts,
        |         CAST(CAST(value AS DECIMAL(12,2)) AS DOUBLE) AS v
        |  FROM events WHERE value IS NOT NULL),
        |a AS (
        |  SELECT user_id, event_id,
        |         list(v) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |           ROWS BETWEEN 15 PRECEDING AND CURRENT ROW) AS arr
        |  FROM e)
        |SELECT user_id, event_id,
        |       round_even(
        |         list_reduce(arr, (acc, x) -> acc * 0.5 + x)
        |         / list_reduce(list_transform(arr,
        |             x -> CAST(1.0 AS DOUBLE)),
        |             (acc, x) -> acc * 0.5 + 1.0), 8) AS ewma
        |FROM a ORDER BY user_id, event_id""".stripMargin,
    "fin_twap" ->
      """WITH e AS (
        |  SELECT user_id, event_id, value,
        |         date_trunc('microseconds', ts) AS ts
        |  FROM events),
        |g AS (
        |  SELECT user_id, value,
        |         epoch_us(lead(ts, 1) OVER (PARTITION BY user_id
        |                                    ORDER BY ts, event_id))
        |           - epoch_us(ts) AS w_us
        |  FROM e)
        |SELECT user_id,
        |       round_even(CAST(sum(CAST(value AS DECIMAL(12,2)) * w_us) AS DOUBLE)
        |         / CAST(sum(w_us) AS DOUBLE), 6) AS twap,
        |       CAST(sum(w_us) AS BIGINT) AS span_us
        |FROM g WHERE w_us IS NOT NULL
        |GROUP BY user_id ORDER BY user_id""".stripMargin,
    "fin_vwap" ->
      """WITH e AS (
        |  SELECT user_id, value,
        |         CAST(json_extract(props, '$.k') AS INTEGER) AS vol
        |  FROM events)
        |SELECT user_id,
        |       CAST(sum(CAST(value AS DECIMAL(12,2)) * vol) AS DOUBLE)
        |         / CAST(sum(vol) AS DOUBLE) AS vwap,
        |       CAST(sum(vol) AS BIGINT) AS total_vol
        |FROM e WHERE vol > 0
        |GROUP BY user_id ORDER BY user_id""".stripMargin,
    "fin_drawdown" ->
      """WITH e AS (
        |  SELECT user_id, event_id, value,
        |         date_trunc('microseconds', ts) AS ts
        |  FROM events),
        |p AS (
        |  SELECT user_id, value,
        |         max(value) OVER (PARTITION BY user_id
        |           ORDER BY ts, event_id
        |           ROWS UNBOUNDED PRECEDING) AS peak
        |  FROM e)
        |SELECT user_id,
        |       min(value / peak - 1.0) AS max_drawdown,
        |       max(peak) AS peak_value
        |FROM p GROUP BY user_id ORDER BY user_id""".stripMargin,
    "fin_ohlc" ->
      """WITH e AS (
        |  SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
        |         date_trunc('microseconds', ts) AS ts, value
        |  FROM events)
        |SELECT user_id, day,
        |       arg_min(value, ts) AS open, max(value) AS high,
        |       min(value) AS low, arg_max(value, ts) AS close,
        |       count(*) AS n_ticks
        |FROM e GROUP BY user_id, day ORDER BY user_id, day""".stripMargin,
    "fin_volatility" ->
      """WITH e AS (
        |  SELECT user_id, date_trunc('microseconds', ts) AS ts, value
        |  FROM events WHERE value > 0),
        |r AS (
        |  SELECT user_id,
        |         value / lag(value, 1) OVER (PARTITION BY user_id ORDER BY ts)
        |           - 1.0 AS ret
        |  FROM e),
        |d AS (
        |  SELECT user_id,
        |         CAST(round_even(ret, 12) AS DECIMAL(24,12)) AS ret_d,
        |         CAST(round_even(ret * ret, 14) AS DECIMAL(30,14)) AS ret2_d
        |  FROM r WHERE ret IS NOT NULL)
        |SELECT user_id, count(*) AS n_ret,
        |       round_even(CAST(sum(ret_d) AS DOUBLE), 6) AS sum_ret,
        |       round_even(sqrt(CAST(sum(ret2_d) AS DOUBLE)
        |         / CAST(count(*) - 1 AS DOUBLE)), 6) AS realized_vol
        |FROM d GROUP BY user_id HAVING count(*) >= 2
        |ORDER BY user_id""".stripMargin)
}
