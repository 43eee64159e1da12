package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** SURVEY.md §2.C — aggregations.
  *
  * All grouped aggregates are single hash-agg passes (partial+final
  * map-side combine is automatic); the TTM key uses one window shuffle
  * whose hash partitioning is then reused by the groupBy (no second
  * exchange — verified in explain()).
  */
object Aggs extends graft.QueryModule {

  /** The core reference aggregate: TTM = sum of the 4 most-recent quarterly
    * values per (entity, metric), nulls->0, <4 periods allowed
    * (`fetch_data.py:29-36`). Recency by window rank, never positional. */
  private def ttmRolling4(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").desc, col("event_id").desc)
    Tables.events(s, d)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 4)
      .groupBy(col("user_id"))
      .agg(bround(sum(coalesce(col("value"), lit(0.0))), 2).as("ttm"))
      .orderBy("user_id")
  }

  /** Warehouse rollup (TPC-H Q1 shape): grouped sum/avg/count
    * (`fetch_data.py:305,315` counter generalized per SURVEY §2.C). */
  private def groupStats(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        bround(sum(col("l_quantity")), 2).as("sum_qty"),
        bround(sum(col("l_extendedprice")), 2).as("sum_base"),
        bround(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4).as("sum_disc"),
        bround(avg(col("l_quantity")), 4).as("avg_qty"),
        bround(avg(col("l_extendedprice")), 4).as("avg_price"),
        count(lit(1)).as("n"))
      .orderBy("l_returnflag", "l_linestatus")

  /** Higher-moment statistics (skewness, excess kurtosis) per group [N],
    * EXACT and order-invariant — the built-ins accumulate centered
    * float moments whose result is partition-order-dependent, so they
    * can never hash-match an oracle. The determinism trick is to make
    * the pinned value INTEGER-VALUED: price bins to $1000 units
    * (y = cents div 10⁵ − 250, roughly centered so |y| ≤ 350 and each
    * per-row power term stays under 350⁴ ≈ 1.5e10), the four power
    * sums are exact integer arithmetic — no decimal rounding anywhere,
    * which matters because DuckDB's round_even on a DECIMAL product
    * silently routes through doubles (measured: re-pinned decimal
    * products drifted kurt at 1e-8). The SUMS of those terms are NOT
    * bounded by 2^53 — s4 ≈ 1.5e10·n crosses it near n ≈ 6e5 rows per
    * group (≈ SF 4 here) — so s2..s4 accumulate as decimal(38,0)
    * (order-invariant, exact to 1e38; a bigint sum would wrap silently
    * at n ≈ 6e8) to mirror DuckDB's exact hugeint sum. Each exact
    * integer sum converts to double ONCE, correctly rounded on both
    * engines (BigDecimal.doubleValue / int64 IEEE cast), so the final
    * doubles agree at any realistic SF; the oracle's BIGINT cast
    * errors loudly, rather than diverging, past 2^63. Skew/kurt are
    * what a price histogram at $1000 resolution has; floats appear
    * only in the final moment formulas, mirrored token for token
    * (sqrt not pow — pow is transcendental and drifts a ULP across
    * engines). */
  private def skewKurt(s: SparkSession, d: String): DataFrame = {
    val cents = (col("o_totalprice").cast("decimal(12,2)") * 100)
      .cast("long")
    val y = expr("cents div 100000") - lit(250L)
    val agg = Tables.orders(s, d)
      .select(col("o_orderpriority"), cents.as("cents"))
      .select(col("o_orderpriority"), y.as("y"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).cast("double").as("n"),
        sum(col("y")).cast("double").as("s1"),
        sum((col("y") * col("y")).cast("decimal(38,0)"))
          .cast("double").as("s2"),
        sum((col("y") * col("y") * col("y")).cast("decimal(38,0)"))
          .cast("double").as("s3"),
        sum((col("y") * col("y") * col("y") * col("y")).cast("decimal(38,0)"))
          .cast("double").as("s4"))
    agg
      .withColumn("mean", col("s1") / col("n"))
      .withColumn("m2",
        col("s2") / col("n") - col("mean") * col("mean"))
      .withColumn("skew",
        (col("s3") / col("n") - lit(3.0) * col("mean") * (col("s2") / col("n")) +
          lit(2.0) * col("mean") * col("mean") * col("mean")) /
          (col("m2") * sqrt(col("m2"))))
      .withColumn("kurt",
        (col("s4") / col("n") - lit(4.0) * col("mean") * (col("s3") / col("n")) +
          lit(6.0) * col("mean") * col("mean") * (col("s2") / col("n")) -
          lit(3.0) * col("mean") * col("mean") * col("mean") * col("mean")) /
          (col("m2") * col("m2")) - lit(3.0))
      .select(col("o_orderpriority"), col("n").cast("bigint").as("n"),
        col("mean"), col("m2"), col("skew"), col("kurt"))
      .orderBy("o_orderpriority")
  }

  /** Quantity-weighted average price per return flag [N] — the weighted
    * mean every pricing report needs: Σ(w·x)/Σw with both sums in exact
    * decimals (the product widens, nothing rounds) and ONE double
    * division per group. */
  private def weightedAvg(s: SparkSession, d: String): DataFrame = {
    val w = col("l_quantity").cast("decimal(12,2)")
    val x = col("l_extendedprice").cast("decimal(12,2)")
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(
        (sum(w * x).cast("double") / sum(w).cast("double")).as("wavg_price"),
        sum(w).cast("double").as("total_qty"),
        count(lit(1)).as("n"))
      .orderBy("l_returnflag")
  }

  /** Ordered string aggregation [N] — Spark 4's ANSI `listagg ...
    * WITHIN GROUP (ORDER BY ...)`: the per-customer order-status
    * history as one deterministic string (ordered by orderkey, so the
    * concat order is total regardless of partitioning), plus the
    * distinct-sorted status set. Strings stay small because the GROUP
    * is small (≈10 orders/customer) — the scale guardrail for listagg
    * is always group size, never table size. */
  private def stringAgg(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy(col("o_custkey"))
      .agg(
        expr("listagg(o_orderstatus, '') WITHIN GROUP (ORDER BY o_orderkey)")
          .as("status_seq"),
        expr("listagg(DISTINCT o_orderstatus, ',') " +
          "WITHIN GROUP (ORDER BY o_orderstatus)").as("statuses"),
        count(lit(1)).as("n"))
      .orderBy("o_custkey")

  /** Pearson chi-square independence statistic [N] over the
    * priority × status contingency table — exact and order-invariant
    * end to end. Counts are exact integers; each cell's term is
    * (obs·N − rt·ct)² / (N·rt·ct) with the numerator squared in
    * decimal(38,0) (a² reaches ~5e32 at SF 100 — far past int64) and
    * ONE double division per cell; the cell terms then sum via a
    * SORTED sequential fold (collect the ≤ r·c cells, array_sort,
    * `aggregate`), because a parallel double sum is partition-order-
    * dependent — the fold is the EWMA-proven `list_reduce` mapping.
    * The contingency table is r·c rows; everything after the first
    * hash-agg is broadcast-sized by construction. */
  private def chiSquare(s: SparkSession, d: String): DataFrame = {
    val cells = Tables.orders(s, d)
      .groupBy(col("o_orderpriority").as("r"), col("o_orderstatus").as("c"))
      .agg(count(lit(1)).as("obs"))
    val rt = cells.groupBy("r").agg(sum("obs").as("rt"))
    val ct = cells.groupBy("c").agg(sum("obs").as("ct"))
    val n = cells.agg(sum("obs").as("n"))
    val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
    val terms = cells
      .join(broadcast(rt), "r").join(broadcast(ct), "c")
      .crossJoin(broadcast(n))
      .withColumn("a", dec(col("obs")) * dec(col("n")) - dec(col("rt")) * dec(col("ct")))
      .withColumn("term",
        (col("a") * col("a")).cast("double") /
          (dec(col("n")) * dec(col("rt")) * dec(col("ct"))).cast("double"))
    terms
      .agg(
        aggregate(
          array_sort(collect_list(struct(col("r"), col("c"), col("term")))),
          lit(0.0),
          (acc, x) => acc + x.getField("term")).as("chi2"),
        ((countDistinct(col("r")) - 1) * (countDistinct(col("c")) - 1))
          .cast("int").as("dof"),
        count(lit(1)).cast("int").as("cells"))
  }

  /** Distinct-set ALGEBRA via theta sketches [N]
    * ([[graft.functions.ThetaSketchAgg]]) — the question HLL cannot
    * answer: sketch once per event_type, then intersect/difference the
    * SKETCHES ("users who clicked AND viewed") without rescanning raw
    * events. One data-scale hash agg builds the per-type sketches
    * (bounded ~2^12 entries each, map-side mergeable); the set algebra
    * runs on the collected type-domain sketches (metadata-scale). At
    * the tested SFs the user domain sits far below the nominal 4096
    * entries, so every sketch is in EXACT mode and the key is fully
    * oracle-checked; past ~4k distinct users the identical plan
    * degrades gracefully to bounded-error estimates
    * (ThetaSketchSpec pins that regime). */
  private def thetaSetOps(s: SparkSession, d: String): DataFrame = {
    val sk = Tables.events(s, d)
      .filter(col("user_id").isNotNull)
      .select(col("event_type"), col("user_id").cast("long").as("u"))
      .groupBy(col("event_type"))
      .agg(expr("graft_theta(u, 12)").as("sk"))
      .collect().map(r => r.getString(0) -> r.getAs[Array[Byte]]("sk")).toMap
    import graft.functions.ThetaOps
    val per = sk.toSeq.sortBy(_._1)
      .map { case (t, b) => (s"users_$t", ThetaOps.estimate(b)) }
    val rows = per ++ Seq(
      ("click_and_view", ThetaOps.intersect(sk("click"), sk("view"))),
      ("click_not_view", ThetaOps.aNotB(sk("click"), sk("view"))),
      ("any", ThetaOps.unionAll(sk.values.toSeq, 12)))
    s.createDataFrame(rows.map { case (op, e) => (op, math.rint(e).toLong) })
      .toDF("set_op", "n_users").orderBy("set_op")
  }

  /** Cramér's V [N] — the normalized effect size on top of the
    * [[chiSquare]] statistic: V = √(χ²/(N·(min(r,c)−1))), the
    * association measure that stays comparable across table shapes.
    * Same exact-decimal cell terms and SORTED sequential fold as
    * `agg_chisq` (a parallel double sum is partition-order-dependent);
    * the normalization is constant work on the one-row result. */
  private def cramersV(s: SparkSession, d: String): DataFrame = {
    val cells = Tables.orders(s, d)
      .groupBy(col("o_orderpriority").as("r"), col("o_orderstatus").as("c"))
      .agg(count(lit(1)).as("obs"))
    val rt = cells.groupBy("r").agg(sum("obs").as("rt"))
    val ct = cells.groupBy("c").agg(sum("obs").as("ct"))
    val n = cells.agg(sum("obs").as("n"))
    val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
    val terms = cells
      .join(broadcast(rt), "r").join(broadcast(ct), "c")
      .crossJoin(broadcast(n))
      .withColumn("a", dec(col("obs")) * dec(col("n")) - dec(col("rt")) * dec(col("ct")))
      .withColumn("term",
        (col("a") * col("a")).cast("double") /
          (dec(col("n")) * dec(col("rt")) * dec(col("ct"))).cast("double"))
    terms
      .agg(
        aggregate(
          array_sort(collect_list(struct(col("r"), col("c"), col("term")))),
          lit(0.0),
          (acc, x) => acc + x.getField("term")).as("chi2"),
        least(countDistinct(col("r")), countDistinct(col("c")))
          .cast("bigint").as("kmin"),
        max(col("n")).cast("bigint").as("n"))
      .selectExpr("chi2", "kmin", "n",
        "sqrt(chi2 / (cast(n as double) * cast(kmin - 1 as double)))" +
          " as cramers_v")
  }

  /** Cross-list dedup to a unique key set (`fetch_data.py:282,296`). */
  private def aggDistinct(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d).select(col("o_custkey")).distinct().orderBy("o_custkey")

  /** Group members into arrays, deterministically sorted
    * (`fetch_data.py:291-296`). */
  private def collectList(s: SparkSession, d: String): DataFrame = {
    val sup = Tables.supplier(s, d)
    val nat = Tables.nation(s, d)
    sup.join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(to_json(sort_array(collect_list(col("s_name")))).as("members"))
      .orderBy("n_name")
  }

  /** Conditional success/total counting (`fetch_data.py:305-321`). */
  private def countConditional(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy(col("o_orderpriority"))
      .agg(
        count(lit(1)).as("total"),
        count(when(col("o_orderstatus") === "F", 1)).as("n_f"),
        sum(when(col("o_totalprice") > 200000, 1).otherwise(0)).cast("bigint").as("n_big"))
      .orderBy("o_orderpriority")

  /** Multi-level rollup with grouping_id — warehouse parity [N]. */
  private def groupingSets(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .rollup(col("n_name"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), bround(sum(col("o_totalprice")), 2).as("total"),
        grouping_id().cast("int").as("gid"))
      .orderBy(col("gid"), col("n_name").asc_nulls_first, col("o_orderpriority").asc_nulls_first)

  /** TTM again as the typed `Aggregator` formulation (SURVEY §2.J(2)):
    * constant-size top-4 buffer, O(1) merge — same oracle as the window
    * formulation, proving the two agree end-to-end. */
  private def ttmTyped(s: SparkSession, d: String): DataFrame = {
    val ttm = udaf(graft.expr.TtmAggregator,
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[(Long, Long, Double)]())
    Tables.events(s, d)
      .select(col("user_id"), unix_micros(col("ts")).as("tsm"),
        col("event_id"), coalesce(col("value"), lit(0.0)).as("v"))
      .groupBy(col("user_id"))
      .agg(bround(ttm(col("tsm"), col("event_id"), col("v")), 2).as("ttm"))
      .orderBy("user_id")
  }

  /** Skew-safe two-phase aggregation [N]: `event_type` has only 5 values
    * — at 100 TB a direct groupBy sends 20% of the table to one reducer.
    * Salt to 16 sub-keys, partial-agg, then final-agg over the tiny
    * salted result — via the reusable [[Skew.saltedAgg]] helper. Result
    * is identical to the direct groupBy (the oracle computes it
    * directly); SkewSpec proves the hot key actually splits. */
  private def saltedSkewAgg(s: SparkSession, d: String): DataFrame =
    Skew.saltedAgg(Tables.events(s, d), Seq("event_type"),
        Seq(Skew.Count("n"), Skew.Sum("value", "sum_value")),
        saltN = 16, salt = Some(pmod(col("event_id"), lit(16))))
      .withColumn("sum_value", bround(col("sum_value"), 2))
      .orderBy("event_type")

  /** TPC-H Q6 shape [N]: tight filter → single global aggregate. All
    * three predicates reach the parquet scan as PushedFilters. */
  private def q6FilteredSum(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .filter(col("l_shipdate").between(lit("1997-01-01").cast("timestamp"),
          lit("1997-12-31").cast("timestamp")) &&
        col("l_discount").between(0.02, 0.06) && col("l_quantity") < 24)
      .agg(bround(sum(col("l_extendedprice") * col("l_discount")), 4).as("revenue"),
        count(lit(1)).as("n"))

  /** Exact interpolated percentiles per group [N] (warehouse parity;
    * `percentile` ≡ DuckDB `quantile_cont`, both (1-g)·a + g·b). */
  private def percentiles(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(
        bround(expr("percentile(l_quantity, 0.5)"), 4).as("p50_qty"),
        bround(expr("percentile(l_extendedprice, 0.9)"), 4).as("p90_price"),
        bround(expr("percentile(l_discount, 0.25)"), 4).as("p25_disc"))
      .orderBy("l_returnflag")

  /** HLL++ cardinality for 100 TB posture [N] — approximate, so no DuckDB
    * oracle (driver records rows-only; QueriesSpec bounds the relative
    * error at <= 2% vs exact countDistinct). */
  /** HLL distinct-count sketch with an IN-QUERY error-bound assertion
    * [r9, VERDICT stretch]: the sketch estimate itself is
    * engine-specific, so the key outputs the EXACT count plus a boolean
    * `hll_ok` = |approx − exact| ≤ max(1, 5% of exact) (rsd 0.01 → 5%
    * is a ≥5σ bound). The oracle asserts TRUE — a sketch regression
    * past the bound flips the boolean and hash-fails the driver gate,
    * so the formerly rows-only key is now oracle-checked. The exact
    * count rides the same hash-agg exchange as the sketch. */
  private def approxDistinct(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("exact_users"),
        approx_count_distinct(col("user_id"), 0.01).as("approx"))
      .select(col("event_type"), col("exact_users"),
        (abs(col("approx") - col("exact_users")) <=
          greatest(lit(1L), floor(col("exact_users").cast("double") * lit(0.05))))
          .as("hll_ok"))
      .orderBy("event_type")

  /** Heavy hitters via Spark 4's DataSketches frequent-items aggregate
    * (`approx_top_k`) [N] — the sketch the 100 TB "what are the top
    * items" question needs (bounded memory, map-side mergeable). With
    * the item domain under maxItemsTracked the sketch's counts are
    * EXACT, so this key is fully oracle-checked against the plain
    * GROUP BY top-3; at true scale the same plan degrades gracefully to
    * approximate counts instead of blowing up the aggregation state. */
  private def approxTopK(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .agg(expr("approx_top_k(event_type, 3)").as("top"))
      .select(explode(col("top")).as("e"))
      .select(col("e.item").as("event_type"), col("e.count").as("n"))
      .orderBy(col("n").desc, col("event_type"))

  /** Approximate percentiles (GK relative-error summaries) [N] — the
    * sketch form of `agg_percentile`: mergeable bounded-memory state vs
    * the exact formulation's full sort. Merge-order sensitive, so
    * rows-only; QueriesSpec bounds the value drift vs the exact
    * interpolated percentiles. */
  private def approxPercentile(s: SparkSession, d: String): DataFrame = {
    // [r9] bounded-error oracle: the GK values are merge-order
    // sensitive, so the key asserts the sketch's CONTRACT instead — the
    // returned quantile's true RANK is within 1.1% of target (GK
    // accuracy 10000 → 0.01% rank error; the slack covers value-tie
    // mass). The oracle asserts TRUE per group; a drifting sketch
    // flips the boolean and hash-fails. One broadcast of the 3-row
    // quantile dim back onto the scan — no second sort
    val li = Tables.lineitem(s, d)
      .select(col("l_returnflag"), col("l_extendedprice").cast("double").as("v"))
    val ap = li.groupBy(col("l_returnflag"))
      .agg(expr("approx_percentile(v, array(0.5, 0.9), 10000)").as("p"))
      .select(col("l_returnflag"),
        element_at(col("p"), 1).as("a50"), element_at(col("p"), 2).as("a90"))
    li.join(broadcast(ap), Seq("l_returnflag"))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("v") <= col("a50"), 1L).otherwise(0L)).as("r50"),
        sum(when(col("v") <= col("a90"), 1L).otherwise(0L)).as("r90"))
      .select(col("l_returnflag"), col("n"),
        (abs(col("r50").cast("double") / col("n") - lit(0.5)) <= lit(0.011))
          .as("p50_rank_ok"),
        (abs(col("r90").cast("double") / col("n") - lit(0.9)) <= lit(0.011))
          .as("p90_rank_ok"))
      .orderBy("l_returnflag")
  }

  /** Fixed-width histogram of order totals: 20 × 25k buckets with the
    * overflow clamped into the top bucket. The bucket id is pure
    * IEEE arithmetic (divide + floor — bit-identical across engines),
    * so the whole histogram is one map-side-combinable hash aggregate;
    * at 100 TB this is the cheapest possible full-table profile (no
    * sort, no shuffle beyond 20 groups). */
  private def histogram(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .select(least(floor(col("o_totalprice") / lit(25000.0)), lit(19L))
        .cast("int").as("bucket"), col("o_totalprice"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
          .as("total_price"))
      .orderBy("bucket")

  /** Deterministic mode per group: most frequent value bucket, ties to
    * the LOWEST bucket. Spark's built-in `mode()` leaves ties
    * unspecified; `max(struct(count, -bucket))` pins them — two hash
    * aggregates, both map-side combinable, no window sort. */
  private def aggMode(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(col("event_type"),
        floor(col("value") / 10).cast("int").as("vb"))
      .groupBy(col("event_type"), col("vb"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("event_type"))
      .agg(max(struct(col("c"), (-col("vb")).as("nvb"))).as("m"))
      .select(col("event_type"), (-col("m.nvb")).as("mode_bucket"),
        col("m.c").as("n"))
      .orderBy("event_type")

  /** Pearson correlation per group with ORDER-INVARIANT math: Spark's
    * built-in `corr` keeps running double moments, so its last bits vary
    * with partitioning/merge order (and can't hash-match any oracle).
    * Here every sufficient statistic (Σx, Σy, Σxy, Σx², Σy², n) is an
    * exact decimal/long aggregate — order-invariant by construction —
    * and the correlation assembles from the six scalars in IEEE double
    * arithmetic once per group. Holds while the unscaled sums stay under
    * 2^53 (true through sf0.1 here; widen the decimals for larger SFs —
    * QueriesSpec cross-checks against built-in corr at 1e-9). */
  private def corrExact(s: SparkSession, d: String): DataFrame = {
    val x = col("value").cast("decimal(12,2)")
    val y = get_json_object(col("props"), "$.k").cast("int")
    def dd(c: org.apache.spark.sql.Column) = c.cast("double")
    Tables.events(s, d)
      .select(col("event_type"), x.as("x"), y.as("y"))
      .filter(col("y").isNotNull)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).cast("long").as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sx2"),
        sum(col("y") * col("y")).cast("long").as("sy2"))
      .select(col("event_type"), col("n"),
        bround((dd(col("n")) * dd(col("sxy")) - dd(col("sx")) * dd(col("sy"))) /
          (sqrt(dd(col("n")) * dd(col("sx2")) - dd(col("sx")) * dd(col("sx"))) *
           sqrt(dd(col("n")) * dd(col("sy2")) - dd(col("sy")) * dd(col("sy")))),
          8).as("corr"))
      .orderBy("event_type")
  }

  /** Cohort retention matrix [N]: users cohorted by first-activity day,
    * then (cohort day × days-since) distinct actives and the retention
    * ratio vs cohort size. Three map-side-combinable hash aggs and one
    * equi-join on user_id (co-partitioned with the cohort agg's own
    * shuffle — AQE reuses the exchange); the cohort-size dim is tiny
    * (one row per day) and broadcasts. The ratio divides two exact
    * longs once per output row — IEEE-exact, then pinned at 4dp. */
  private def cohortRetention(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(col("user_id"), to_date(col("ts")).as("day"))
    val cohort = ev.groupBy(col("user_id")).agg(min(col("day")).as("cohort_day"))
    val sizes = cohort.groupBy(col("cohort_day"))
      .agg(count(lit(1)).as("cohort_size"))
    ev.join(cohort, "user_id")
      .groupBy(col("cohort_day"),
        datediff(col("day"), col("cohort_day")).as("days_since"))
      .agg(countDistinct(col("user_id")).as("active_users"))
      .join(broadcast(sizes), "cohort_day")
      .select(col("cohort_day"), col("days_since"), col("active_users"),
        bround(col("active_users").cast("double")
          / col("cohort_size").cast("double"), 4).as("retention"))
      .orderBy("cohort_day", "days_since")
  }

  /** Boolean + bitwise aggregate battery [N]: `bool_and`/`bool_or`
    * (ANSI EVERY/ANY) over predicates, `count_if`, and the three bitwise
    * reducers over the key column. Every one is commutative+associative
    * — order-invariant by construction, a single map-side-combinable
    * hash aggregate, and (unlike float sums) safe to hash-compare
    * across engines with no rounding discipline at all. */
  private def booleanBitwise(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy(col("o_orderpriority"))
      .agg(
        expr("bool_and(o_totalprice > 1000.0)").as("all_over_1k"),
        expr("bool_or(o_totalprice > 400000.0)").as("any_over_400k"),
        expr("bool_and(o_custkey > 0)").as("every_pos"),
        expr("count_if(o_totalprice > 200000.0)").as("n_big"),
        expr("bit_and(o_custkey)").as("key_band"),
        expr("bit_or(o_custkey)").as("key_bor"),
        expr("bit_xor(o_custkey)").as("key_bxor"))
      .orderBy("o_orderpriority")

  /** CUBE aggregation [N] — `agg_grouping_sets` covers the ROLLUP
    * hierarchy; CUBE materializes ALL 2^k grouping combinations in the
    * same single pass (Catalyst expands to one Expand + one hash agg,
    * not 2^k scans). `grouping_id` disambiguates a real NULL key from a
    * rolled-up one — the classic reporting-cube trap. */
  private def cubeAgg(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .cube(col("o_orderpriority"), col("o_orderstatus"))
      .agg(grouping_id().cast("int").as("gid"),
        count(lit(1)).as("n"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
          .as("total"))
      .select(col("o_orderpriority"), col("o_orderstatus"),
        col("gid"), col("n"), col("total"))
      .orderBy("gid", "o_orderpriority", "o_orderstatus")

  /** Re-aggregatable distinct-count sketches [N] — the 100 TB pattern
    * `approx_count_distinct` cannot express: per-(type, day) HLL
    * sketches materialize ONCE (the daily rollup table), then any
    * coarser grain re-aggregates by UNIONING SKETCHES, never rescanning
    * raw events. Spark 4's DataSketches functions (`hll_sketch_agg` →
    * `hll_union_agg` → `hll_sketch_estimate`) make both levels
    * map-side-combinable hash aggs. Approximate by design → rows-only;
    * QueriesSpec bounds the error vs exact countDistinct at ≤3% and
    * asserts the sketch union is LOSSLESS vs sketching raw directly. */
  private def hllReaggregate(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(col("event_type"), to_date(col("ts")).as("day"), col("user_id"))
    val rolled = ev
      .groupBy(col("event_type"), col("day"))
      .agg(expr("hll_sketch_agg(user_id, 14)").as("sk"))
      .groupBy(col("event_type"))
      .agg(expr("hll_sketch_estimate(hll_union_agg(sk, false))")
        .as("approx_users"), count(lit(1)).as("n_days"))
    // [r9] bounded-error oracle: exact distincts join the day-rolled
    // sketch union; `union_ok` asserts the union estimate within 5%
    // (lgK 14 → rse ≈0.8%; 5% ≈ 6σ) — TRUE in the oracle, so sketch or
    // union regressions hash-fail the driver gate
    val exact = ev.groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("exact_users"))
    rolled.join(exact, Seq("event_type"))
      .select(col("event_type"), col("n_days"), col("exact_users"),
        (abs(col("approx_users") - col("exact_users").cast("double")) <=
          greatest(lit(1.0), col("exact_users").cast("double") * lit(0.05)))
          .as("union_ok"))
      .orderBy("event_type")
  }

  /** Percentile winsorization [N] — feature-engineering's standard
    * outlier clamp: per group, values outside [p05, p95] snap to the
    * boundary, then the clamped distribution is profiled. Cross-engine
    * discipline: the interpolated percentiles are PINNED at 4dp and
    * cast to decimal BEFORE the clamp, so the boundary compare is
    * decimal-vs-decimal exact on both engines (raw interpolation can
    * differ by 1 ULP — never let it touch a comparison); clamped
    * values stay decimal through the sum, one conversion + 2dp pin per
    * group at the end. The percentile agg and the clamp join share the
    * group-key exchange; the stats dim is group-domain-bounded and
    * broadcasts. */
  private def winsorizePct(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
      .select(col("l_returnflag"),
        col("l_extendedprice").cast("decimal(14,4)").as("v"))
    val stats = Tables.lineitem(s, d).groupBy(col("l_returnflag"))
      .agg(
        bround(expr("percentile(l_extendedprice, 0.05)"), 4)
          .cast("decimal(14,4)").as("lo"),
        bround(expr("percentile(l_extendedprice, 0.95)"), 4)
          .cast("decimal(14,4)").as("hi"))
    li.join(broadcast(stats), "l_returnflag")
      .withColumn("w",
        when(col("v") < col("lo"), col("lo"))
          .when(col("v") > col("hi"), col("hi"))
          .otherwise(col("v")))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("v") =!= col("w"), 1L).otherwise(0L)).as("n_clamped"),
        bround(sum(col("w")).cast("double"), 2).as("sum_w"),
        min(col("w")).cast("double").as("min_w"),
        max(col("w")).cast("double").as("max_w"))
      .orderBy("l_returnflag")
  }

  /** k-anonymity generalization [N] — the privacy screen a dataset
    * passes before publication: quasi-identifier combinations carried
    * by fewer than k individuals are SUPPRESSED (generalized to '*')
    * and merged, so no released group is smaller than k. Two hash
    * aggs: quasi-group counts, then re-aggregation of the suppressed
    * remainder — the suppressed rows collapse to one row per
    * fully-generalized class, never leaving rare combinations in the
    * output. */
  private def kAnonymity(s: SparkSession, d: String): DataFrame = {
    val k = 10L
    val groups = Tables.customer(s, d)
      .select(col("c_mktsegment").as("seg"),
        col("c_nationkey").cast("string").as("nation"))
      .groupBy(col("seg"), col("nation"))
      .agg(count(lit(1)).as("n"))
    val kept = groups.filter(col("n") >= k)
    val suppressed = groups.filter(col("n") < k)
      .select(lit("*").as("seg"), lit("*").as("nation"), col("n"))
      .groupBy(col("seg"), col("nation"))
      .agg(sum(col("n")).as("n"))
    kept.unionByName(suppressed)
      .orderBy("seg", "nation")
  }

  /** RFM segmentation [N] — the classic customer-value screen: per
    * customer recency (last order date), frequency (order count),
    * monetary (exact decimal revenue), each scored into quartiles and
    * concatenated into the familiar 'r-f-m' segment code. The naive
    * form is three `ntile(4)` calls over UNPARTITIONED windows — each
    * one a whole-relation single-partition sort, the global-window
    * scale killer — so the quartiles here come from
    * [[GlobalRank.withRank]] (range-partition + offset, no global
    * exchange) with [[GlobalRank.ntileFromRank]] reproducing ANSI
    * ntile arithmetic exactly; the oracle still writes plain `ntile`
    * windows, and hash equality proves the distributed construction
    * IS ntile. Every ordering ends in the unique customer key, so all
    * labels are deterministic at any partitioning. */
  private def rfmSegments(s: SparkSession, d: String): DataFrame = {
    val base = Tables.orders(s, d)
      .groupBy(col("o_custkey"))
      .agg(max(col("o_orderdate")).as("last_order"),
        count(lit(1)).as("frequency"),
        sum(col("o_totalprice").cast("decimal(18,2)")).as("monetary"))
      .localCheckpoint() // three rank passes share one computed base
    val n = base.count() // one scalar for the ntile arithmetic
    val r = GlobalRank.withRank(base,
      Seq(col("last_order").desc, col("o_custkey")), "rank_r")
    val f = GlobalRank.withRank(base,
      Seq(col("frequency").desc, col("o_custkey")), "rank_f")
      .select(col("o_custkey"), col("rank_f"))
    val m = GlobalRank.withRank(base,
      Seq(col("monetary").desc, col("o_custkey")), "rank_m")
      .select(col("o_custkey"), col("rank_m"))
    r.join(f, "o_custkey").join(m, "o_custkey")
      .select(col("o_custkey"), col("last_order").cast("date").as("last_order"),
        col("frequency"), col("monetary").cast("double").as("monetary"),
        concat(GlobalRank.ntileFromRank(col("rank_r"), n, 4), lit("-"),
          GlobalRank.ntileFromRank(col("rank_f"), n, 4), lit("-"),
          GlobalRank.ntileFromRank(col("rank_m"), n, 4)).as("segment"))
      .orderBy("o_custkey")
  }

  /** Equi-DEPTH histogram [N] — the quantile-bucket profile (equal
    * COUNTS per bucket, unlike [[histogram]]'s equal widths): `ntile`
    * assigns depth buckets under a fully tie-broken order, then one
    * hash agg emits each bucket's span and population. The ntile sort
    * is per-group (event types partition the window), so the exchange
    * is the same hash partition every grouped op uses. */
  private def equidepthHist(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("v"), col("event_id"))
    Tables.events(s, d)
      .filter(col("value").isNotNull)
      .select(col("event_type"), col("event_id"),
        col("value").cast("decimal(12,2)").as("v"))
      .withColumn("bucket", ntile(4).over(w))
      .groupBy(col("event_type"), col("bucket"))
      .agg(min(col("v")).cast("double").as("lo"),
        max(col("v")).cast("double").as("hi"),
        count(lit(1)).as("n"))
      .orderBy("event_type", "bucket")
  }

  /** Z-score outlier counting with EXACT integer arithmetic [N]: a row
    * is an outlier when (x − μ)² > k²σ². Computing μ or σ invites the
    * cross-engine quotient-tie trap, so both sides are multiplied out:
    * (n·x − s)² > k²·(n·sx2 − s²) — every term an exact integer (cents
    * as decimal(38,0), products capped far below 10³⁸), so the
    * comparison is bit-free-of-floats on BOTH engines (DuckDB runs it
    * in HUGEINT). Plan: one hash agg for the per-group moments (the
    * group domain is the event-type vocabulary — broadcast), one scan
    * with the flag expression, one count agg. */
  private def zscoreOutliers(s: SparkSession, d: String): DataFrame = {
    val cents = (col("value").cast("decimal(12,2)") * 100)
      .cast("decimal(20,0)")
    val rows = Tables.events(s, d)
      .filter(col("value").isNotNull)
      .select(col("event_type"), cents.as("c"))
    val stats = rows.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("c")).as("sc"),
        sum((col("c") * col("c")).cast("decimal(38,0)")).as("sc2"))
    def d38(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
    val dev = d38(col("n") * col("c")) - d38(col("sc"))
    val varN2 = d38(col("n") * col("sc2")) - d38(col("sc")) * d38(col("sc"))
    rows.join(broadcast(stats), "event_type")
      .select(col("event_type"), col("n"),
        when(dev * dev > lit(9) * varN2, 1L).otherwise(0L).as("flag"))
      .groupBy(col("event_type"))
      .agg(max(col("n")).as("n"), sum(col("flag")).as("n_outliers"))
      .orderBy("event_type")
  }

  /** Markov transition matrix [N] — the behavioral-model aggregate
    * (what follows what, with what probability): per-user event
    * sequences pair each event with its predecessor in ONE window
    * pass, then a hash agg counts (from, to) bigrams and a broadcast
    * join against the per-from totals (a relation bounded by the
    * event-type vocabulary, never the data) turns counts into row
    * probabilities. The probability is one exact long/long IEEE
    * division per output row — no rounding needed for cross-engine
    * hash equality. */
  private def markovTransitions(s: SparkSession, d: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val bigrams = Tables.events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type").as("to_type"))
      .withColumn("from_type", lag(col("to_type"), 1).over(w))
      .filter(col("from_type").isNotNull)
      .groupBy(col("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
    val totals = bigrams.groupBy(col("from_type"))
      .agg(sum(col("n")).as("tot"))
    bigrams.join(broadcast(totals), "from_type")
      .select(col("from_type"), col("to_type"), col("n"),
        (col("n") / col("tot")).as("prob"))
      .orderBy("from_type", "to_type")
  }

  /** EXACT mergeable distinct rollup via bitmaps [N] — the scale
    * answer to "count(distinct) does not re-aggregate": Spark 3.5+'s
    * bitmap functions shard the key domain into fixed 32 768-bit
    * buckets (`bitmap_bucket_number`/`bitmap_bit_position`), build one
    * bitmap per (group, bucket) with `bitmap_construct_agg`, and the
    * per-group distinct count is then `sum(bitmap_count(bm))` — while
    * ANY coarser rollup ORs the very same bitmaps (`bitmap_or_agg`)
    * instead of rescanning the fact table. Unlike HLL
    * ([[hllReaggregate]]) this is exact, and unlike
    * `count(distinct)` the partial state is mergeable, so a 100 TB
    * daily→monthly→all-time rollup chain touches the raw data once.
    * The fine bitmaps here feed BOTH the per-priority counts and the
    * re-aggregated global row, proving the merge path. */
  private def bitmapDistinct(s: SparkSession, d: String): DataFrame = {
    val fine = Tables.orders(s, d)
      .select(col("o_orderpriority").as("prio"), col("o_custkey"))
      .groupBy(col("prio"),
        expr("bitmap_bucket_number(o_custkey)").as("bkt"))
      .agg(expr("bitmap_construct_agg(bitmap_bit_position(o_custkey))")
        .as("bm"))
    val perPrio = fine
      .groupBy(col("prio"))
      .agg(sum(expr("bitmap_count(bm)")).as("n_distinct"))
    val global = fine
      .groupBy(col("bkt"))
      .agg(expr("bitmap_or_agg(bm)").as("bm"))
      .agg(sum(expr("bitmap_count(bm)")).as("n_distinct"))
      .select(lit("ALL").as("prio"), col("n_distinct"))
    perPrio.unionByName(global).orderBy("prio")
  }

  /** Least-squares regression per group with ORDER-INVARIANT math [N] —
    * the regr_slope/regr_intercept/regr_r2 family on the same exact
    * sufficient statistics as [[corrExact]] (built-in regr_* keeps
    * running double moments whose last bits depend on merge order, so
    * they can never hash-match an oracle). Six decimal/long sums, then
    * each coefficient assembles once per group in a pinned IEEE
    * expression order, mirrored verbatim in the oracle SQL. */
  private def regression(s: SparkSession, d: String): DataFrame = {
    val x = col("value").cast("decimal(12,2)")
    val y = get_json_object(col("props"), "$.k").cast("int")
    def dd(c: org.apache.spark.sql.Column) = c.cast("double")
    val n = dd(col("n")); val sx = dd(col("sx")); val sy = dd(col("sy"))
    val sxy = dd(col("sxy")); val sx2 = dd(col("sx2")); val sy2 = dd(col("sy2"))
    val num = n * sxy - sx * sy
    val denX = n * sx2 - sx * sx
    val denY = n * sy2 - sy * sy
    val slope = num / denX
    Tables.events(s, d)
      .select(col("event_type"), x.as("x"), y.as("y"))
      .filter(col("y").isNotNull)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).cast("long").as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sx2"),
        sum(col("y") * col("y")).cast("long").as("sy2"))
      .select(col("event_type"), col("n"),
        bround(slope, 8).as("slope"),
        bround((sy - slope * sx) / n, 8).as("icept"),
        bround(num * num / (denX * denY), 8).as("r2"))
      .orderBy("event_type")
  }

  /** Weighted (lower) median per group [N]: the smallest price whose
    * cumulative quantity-weight reaches half the group total — the
    * robust central-tendency statistic for weighted corpora (token
    * budgets per source, price by traded volume). NO interpolation:
    * built-in `percentile(x, 0.5, w)` interpolates in IEEE space and is
    * dialect-specific; the cumsum formulation is exact
    * integer/decimal arithmetic both engines agree on bit-for-bit.
    *
    * Scale shape: ties collapse FIRST (hash agg on (group, price) —
    * map-side combinable), the running sum windows over the collapsed
    * per-group value domain (bounded by distinct prices, not rows),
    * and `2*cum >= tot` avoids any division. One window sort per
    * group, no global sort, no collect. */
  private def weightedMedian(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("l_returnflag")).orderBy(col("price"))
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"), col("l_extendedprice").as("price"))
      .agg(sum(col("l_quantity").cast("decimal(18,2)")).as("wt"))
      .select(col("l_returnflag"), col("price"),
        sum(col("wt")).over(w).as("cum"),
        sum(col("wt")).over(Window.partitionBy(col("l_returnflag")))
          .as("tot"))
      .filter(col("cum") * 2 >= col("tot"))
      .groupBy(col("l_returnflag"))
      .agg(min(col("price")).as("w_median"))
      .orderBy("l_returnflag")
  }

  /** Weighted percentile VECTOR (p25/p50/p75) per group [N] — the
    * [[weightedMedian]] cumsum shape answering three quantiles from the
    * SAME single window pass: each is a conditional `min` under a
    * division-free exact-decimal threshold (4·cum ≥ tot, 2·cum ≥ tot,
    * 4·cum ≥ 3·tot). Adding quantiles costs one aggregate expression
    * each, never another sort. */
  private def weightedPercentiles(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("l_returnflag")).orderBy(col("price"))
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"), col("l_extendedprice").as("price"))
      .agg(sum(col("l_quantity").cast("decimal(18,2)")).as("wt"))
      .select(col("l_returnflag"), col("price"),
        sum(col("wt")).over(w).as("cum"),
        sum(col("wt")).over(Window.partitionBy(col("l_returnflag")))
          .as("tot"))
      .groupBy(col("l_returnflag"))
      .agg(
        min(when(col("cum") * 4 >= col("tot"), col("price"))).as("p25"),
        min(when(col("cum") * 2 >= col("tot"), col("price"))).as("p50"),
        min(when(col("cum") * 4 >= col("tot") * 3, col("price"))).as("p75"))
      .orderBy("l_returnflag")
  }

  /** Herfindahl-Hirschman concentration index per nation [N] — the
    * Gini's companion statistic (Σ shareᵢ², share in percent — the
    * antitrust convention where 10000 = monopoly). Each customer's
    * squared share is ONE IEEE division+multiply pinned to a 12dp
    * decimal, so the per-nation sum is exact and order-invariant — the
    * naive Σ(x/t)² of raw doubles can never hash-match across engines.
    * Same input relation as [[giniSpend]], no window needed. */
  private def hhiSpend(s: SparkSession, d: String): DataFrame = {
    val spend = Tables.orders(s, d)
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_nationkey").as("nation"), col("c_custkey"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("x"))
    val tot = spend.groupBy(col("nation")).agg(sum(col("x")).as("t"))
    spend.join(tot, "nation")
      .select(col("nation"),
        bround(col("x").cast("double") / col("t").cast("double") * 100.0
          * (col("x").cast("double") / col("t").cast("double") * 100.0), 12)
          .cast("decimal(20,12)").as("sq"))
      .groupBy(col("nation"))
      .agg(sum(col("sq")).cast("double").as("hhi"),
        count(lit(1)).as("n_customers"))
      .orderBy("nation")
  }

  /** Benford first-digit profile of order totals [N] — the classic
    * fraud / synthetic-data screen. The leading digit comes from the
    * decimal's STRING prefix, never `log10` (libm results differ across
    * engines in the last ulp, which a floor() then amplifies into a
    * different digit); counts are exact integers, the Benford
    * expectations are literal decimals, and the single IEEE share
    * division pins at 8dp. One scan, one 9-group hash agg. */
  private def benford(s: SparkSession, d: String): DataFrame = {
    val p = Seq(0.30103, 0.17609, 0.12494, 0.09691, 0.07918,
      0.06695, 0.05799, 0.05115, 0.04576)
    val expect = p.zipWithIndex.foldLeft(lit(0.0)) { case (acc, (v, i)) =>
      when(col("digit") === (i + 1).toString, lit(v)).otherwise(acc)
    }
    val tot = Window.partitionBy()
    Tables.orders(s, d)
      .filter(col("o_totalprice") > 0)
      .select(substring(col("o_totalprice").cast("decimal(12,2)")
        .cast("string"), 1, 1).as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n"))
      .select(col("digit"), col("n"),
        bround(col("n").cast("double") /
          sum(col("n")).over(tot).cast("double"), 8).as("share"),
        expect.as("benford_p"))
      .select(col("digit"), col("n"), col("share"), col("benford_p"),
        bround(col("share") - col("benford_p"), 8).as("deviation"))
      .orderBy("digit")
  }

  /** Gini coefficient of customer spend per nation [N] — the inequality
    * statistic behind data-mix audits (is one customer/source dominating
    * a bucket?). Rank formulation G = (2·Σ rᵢxᵢ − (n+1)·Σxᵢ)/(n·Σxᵢ)
    * over the TOTAL order (spend, custkey): ranks are integers, both
    * sums exact decimals, the single IEEE division pinned at 8dp — the
    * whole statistic is deterministic with no sampling and no float
    * accumulation. One join + one window rank + one hash agg. */
  private def giniSpend(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spend = Tables.orders(s, d)
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_nationkey").as("nation"), col("c_custkey"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("x"))
    val w = Window.partitionBy(col("nation"))
      .orderBy(col("x"), col("c_custkey"))
    spend.select(col("nation"), col("x"),
        row_number().over(w).cast("long").as("r"))
      .groupBy(col("nation"))
      .agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("x") * col("r")).as("srx"))
      .select(col("nation"), col("n"),
        bround((lit(2) * col("srx") - (col("n") + 1) * col("sx"))
            .cast("double") /
          (col("n") * col("sx")).cast("double"), 8).as("gini"))
      .orderBy("nation")
  }

  /** ANALYZE-style one-pass column profile [N]: min/max/null-count/exact
    * NDV for three columns of `orders` in a SINGLE scan (the statistics
    * every CBO and data-quality gate needs). At 100 TB swap the exact
    * `count distinct` for `approx_count_distinct` — same single-pass
    * plan shape; exact here so the key stays oracle-checkable. */
  private def profileStats(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .agg(count(lit(1)).as("n_rows"),
        min(col("o_totalprice")).as("price_min"),
        max(col("o_totalprice")).as("price_max"),
        count(when(col("o_totalprice").isNull, 1)).as("price_nulls"),
        countDistinct(col("o_custkey")).as("custkey_ndv"),
        min(col("o_orderdate")).cast("date").as("date_min"),
        max(col("o_orderdate")).cast("date").as("date_max"),
        countDistinct(col("o_orderpriority")).as("priority_ndv"))

  /** Count-Min sketch [N] (Cormode-Muthukrishnan 2005): d=4 × w=64
    * counter grid over `events.event_type`; estimate = min over the d
    * rows of the hashed cell, an OVERESTIMATE by construction. Unlike
    * the HLL/theta keys (rows-only: engine-internal hash state), the
    * hash functions here are the house md5 coin
    * (`hex8(md5(key:cmj)) % 64`), so the whole sketch — cells,
    * estimates, and the per-key overcount — is pure integer arithmetic
    * both engines replay exactly: the first FULLY hash-checked sketch
    * key. Scale shape: the update explode is map-side (4 cells/row
    * partial-agg into a 256-cell grid — the shuffle carries the GRID,
    * not the stream), and the estimate join probes the bounded
    * key-domain against the broadcast grid. Mergeability is the point
    * at 100 TB: cell-wise sums across partitions/days ARE the combined
    * sketch (same property the bitmap/theta keys pin). */
  private def countMin(s: SparkSession, d: String): DataFrame = {
    val depth = 4
    val width = 64
    val ev = Tables.events(s, d)
    val cells = ev.select(explode(expr(
        s"""transform(sequence(0, ${depth - 1}), j -> struct(j AS j,
           |  graft_hex_long(md5(concat(event_type, ':cm',
           |    CAST(j AS STRING))), 1, 8) % $width
           |  AS b))""".stripMargin)).as("c"))
      .groupBy(col("c.j").as("j"), col("c.b").as("b"))
      .agg(count(lit(1)).as("cnt"))
    val keys = ev.groupBy(col("event_type"))
      .agg(count(lit(1)).as("true_cnt"))
      .select(col("event_type"), col("true_cnt"), explode(expr(
        s"""transform(sequence(0, ${depth - 1}), j -> struct(j AS j,
           |  graft_hex_long(md5(concat(event_type, ':cm',
           |    CAST(j AS STRING))), 1, 8) % $width
           |  AS b))""".stripMargin)).as("k"))
      .select(col("event_type"), col("true_cnt"),
        col("k.j").as("j"), col("k.b").as("b"))
    keys.join(broadcast(cells), Seq("j", "b"))
      .groupBy(col("event_type"))
      .agg(max(col("true_cnt")).as("true_cnt"),
        min(col("cnt")).as("cm_est"))
      .withColumn("overcount", col("cm_est") - col("true_cnt"))
      .orderBy("event_type")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "agg_countmin" -> countMin,
    "agg_string_agg" -> stringAgg,
    "agg_chisq" -> chiSquare,
    "stats_cramers_v" -> cramersV,
    "agg_theta_setops" -> thetaSetOps,
    "agg_cube" -> cubeAgg,
    "agg_hll_reaggregate" -> hllReaggregate,
    "agg_bitmap_distinct" -> bitmapDistinct,
    "agg_markov_transitions" -> markovTransitions,
    "agg_zscore_outliers" -> zscoreOutliers,
    "agg_rfm_segments" -> rfmSegments,
    "agg_equidepth_hist" -> equidepthHist,
    "agg_winsorize_pct" -> winsorizePct,
    "quality_k_anonymity" -> kAnonymity,
    "agg_regression" -> regression,
    "agg_weighted_median" -> weightedMedian,
    "agg_weighted_percentiles" -> weightedPercentiles,
    "agg_gini_spend" -> giniSpend,
    "agg_benford" -> benford,
    "agg_hhi_spend" -> hhiSpend,
    "agg_skewkurt" -> skewKurt,
    "agg_weighted_avg" -> weightedAvg,
    "agg_cohort_retention" -> cohortRetention,
    "agg_boolean_bitwise" -> booleanBitwise,
    "agg_profile_stats" -> profileStats,
    "agg_corr_exact" -> corrExact,
    "agg_mode" -> aggMode,
    "agg_histogram" -> histogram,
    "agg_ttm_rolling4" -> ttmRolling4,
    "agg_ttm_typed" -> ttmTyped,
    "agg_salted_skew" -> saltedSkewAgg,
    "agg_percentile" -> percentiles,
    "agg_q6_filtered_sum" -> q6FilteredSum,
    "agg_group_stats" -> groupStats,
    "agg_distinct" -> aggDistinct,
    "agg_collect_list" -> collectList,
    "agg_count_conditional" -> countConditional,
    "agg_grouping_sets" -> groupingSets,
    "agg_approx_distinct" -> approxDistinct,
    "agg_approx_topk" -> approxTopK,
    "agg_approx_percentile" -> approxPercentile)

  val oracles: Map[String, String] = Map(
    // count-min: the md5-coin hash makes the WHOLE sketch replayable —
    // hex8 via the strpos polynomial (DuckDB has no conv)
    "agg_countmin" -> {
      val hex8 = (0 until 8).map { i =>
        val f = 1L << (4 * (7 - i))
        s"(strpos('0123456789abcdef', substr(h, ${i + 1}, 1)) - 1) * $f"
      }.mkString("(", "\n        + ", ")")
      s"""WITH hashed AS (
        |  SELECT event_type, j, $hex8 % 64 AS b
        |  FROM (SELECT event_type, j,
        |               md5(event_type || ':cm' || CAST(j AS VARCHAR)) AS h
        |        FROM events, (SELECT unnest(generate_series(0, 3)) AS j))),
        |cells AS (
        |  SELECT j, b, count(*) AS cnt FROM hashed GROUP BY 1, 2),
        |keys AS (
        |  SELECT event_type, count(*) AS true_cnt
        |  FROM events GROUP BY 1),
        |probes AS (
        |  SELECT k.event_type, k.true_cnt, j, $hex8 % 64 AS b
        |  FROM (SELECT event_type, true_cnt, j,
        |               md5(event_type || ':cm' || CAST(j AS VARCHAR)) AS h
        |        FROM keys, (SELECT unnest(generate_series(0, 3)) AS j)) k)
        |SELECT p.event_type, max(p.true_cnt) AS true_cnt,
        |       min(c.cnt) AS cm_est,
        |       min(c.cnt) - max(p.true_cnt) AS overcount
        |FROM probes p JOIN cells c USING (j, b)
        |GROUP BY p.event_type ORDER BY p.event_type""".stripMargin
    },
    // bounded-error sketch oracles [r9]: exact values + TRUE for the
    // in-query error-bound booleans; see the key docs
    "agg_approx_distinct" ->
      """SELECT event_type,
        |       CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
        |       TRUE AS hll_ok
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "agg_hll_reaggregate" ->
      """SELECT event_type,
        |       CAST(count(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_days,
        |       CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
        |       TRUE AS union_ok
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "agg_approx_percentile" ->
      """SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
        |       TRUE AS p50_rank_ok, TRUE AS p90_rank_ok
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    "agg_winsorize_pct" ->
      """WITH st AS (
        |  SELECT l_returnflag,
        |         CAST(round_even(quantile_cont(l_extendedprice, 0.05), 4)
        |              AS DECIMAL(14,4)) AS lo,
        |         CAST(round_even(quantile_cont(l_extendedprice, 0.95), 4)
        |              AS DECIMAL(14,4)) AS hi
        |  FROM lineitem GROUP BY 1),
        |r AS (
        |  SELECT l.l_returnflag,
        |         CAST(l.l_extendedprice AS DECIMAL(14,4)) AS v, st.lo, st.hi
        |  FROM lineitem l JOIN st USING (l_returnflag)),
        |w AS (
        |  SELECT l_returnflag, v,
        |         CASE WHEN v < lo THEN lo WHEN v > hi THEN hi ELSE v END AS w
        |  FROM r)
        |SELECT l_returnflag, count(*) AS n,
        |       CAST(sum(CASE WHEN v <> w THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_clamped,
        |       round_even(CAST(sum(w) AS DOUBLE), 2) AS sum_w,
        |       CAST(min(w) AS DOUBLE) AS min_w,
        |       CAST(max(w) AS DOUBLE) AS max_w
        |FROM w GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "quality_k_anonymity" ->
      """WITH g AS (
        |  SELECT c_mktsegment AS seg,
        |         CAST(c_nationkey AS VARCHAR) AS nation,
        |         count(*) AS n
        |  FROM customer GROUP BY 1, 2)
        |SELECT seg, nation, n FROM g WHERE n >= 10
        |UNION ALL
        |SELECT '*', '*', CAST(sum(n) AS BIGINT) FROM g WHERE n < 10
        |HAVING count(*) > 0
        |ORDER BY seg, nation""".stripMargin,
    "agg_rfm_segments" ->
      """WITH base AS (
        |  SELECT o_custkey, max(o_orderdate) AS last_order,
        |         count(*) AS frequency,
        |         sum(CAST(o_totalprice AS DECIMAL(18,2))) AS monetary
        |  FROM orders GROUP BY 1),
        |sc AS (
        |  SELECT o_custkey, last_order, frequency, monetary,
        |         ntile(4) OVER (ORDER BY last_order DESC, o_custkey) AS r,
        |         ntile(4) OVER (ORDER BY frequency DESC, o_custkey) AS f,
        |         ntile(4) OVER (ORDER BY monetary DESC, o_custkey) AS m
        |  FROM base)
        |SELECT o_custkey, CAST(last_order AS DATE) AS last_order,
        |       frequency, CAST(monetary AS DOUBLE) AS monetary,
        |       CAST(r AS VARCHAR) || '-' || CAST(f AS VARCHAR) || '-'
        |         || CAST(m AS VARCHAR) AS segment
        |FROM sc ORDER BY o_custkey""".stripMargin,
    "agg_equidepth_hist" ->
      """WITH e AS (
        |  SELECT event_type, event_id, CAST(value AS DECIMAL(12,2)) AS v
        |  FROM events WHERE value IS NOT NULL),
        |b AS (
        |  SELECT event_type, v, ntile(4) OVER (
        |    PARTITION BY event_type ORDER BY v, event_id) AS bucket
        |  FROM e)
        |SELECT event_type, CAST(bucket AS INTEGER) AS bucket,
        |       CAST(min(v) AS DOUBLE) AS lo, CAST(max(v) AS DOUBLE) AS hi,
        |       count(*) AS n
        |FROM b GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // every term HUGEINT-exact: the cross-multiplied compare needs no
    // mean, no stddev, no float anywhere
    "agg_zscore_outliers" ->
      """WITH r AS (
        |  SELECT event_type,
        |         CAST(CAST(value AS DECIMAL(12,2)) * 100 AS HUGEINT) AS c
        |  FROM events WHERE value IS NOT NULL),
        |st AS (
        |  SELECT event_type, count(*) AS n, sum(c) AS sc, sum(c * c) AS sc2
        |  FROM r GROUP BY 1)
        |SELECT r.event_type, CAST(st.n AS BIGINT) AS n,
        |       CAST(sum(CASE WHEN (st.n * r.c - st.sc) * (st.n * r.c - st.sc)
        |                        > 9 * (st.n * st.sc2 - st.sc * st.sc)
        |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        |FROM r JOIN st USING (event_type)
        |GROUP BY r.event_type, st.n
        |ORDER BY r.event_type""".stripMargin,
    "agg_markov_transitions" ->
      """WITH p AS (
        |  SELECT lag(event_type) OVER (
        |           PARTITION BY user_id ORDER BY ts, event_id) AS from_type,
        |         event_type AS to_type
        |  FROM events),
        |b AS (
        |  SELECT from_type, to_type, count(*) AS n
        |  FROM p WHERE from_type IS NOT NULL GROUP BY 1, 2),
        |t AS (SELECT from_type, CAST(sum(n) AS BIGINT) AS tot
        |      FROM b GROUP BY 1)
        |SELECT b.from_type, b.to_type, b.n,
        |       CAST(b.n AS DOUBLE) / t.tot AS prob
        |FROM b JOIN t ON b.from_type = t.from_type
        |ORDER BY b.from_type, b.to_type""".stripMargin,
    "agg_bitmap_distinct" ->
      """SELECT o_orderpriority AS prio,
        |       CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_distinct
        |FROM orders GROUP BY 1
        |UNION ALL
        |SELECT 'ALL', CAST(count(DISTINCT o_custkey) AS BIGINT)
        |FROM orders
        |ORDER BY prio""".stripMargin,
    "agg_string_agg" ->
      """SELECT o_custkey,
        |       string_agg(o_orderstatus, '' ORDER BY o_orderkey)
        |         AS status_seq,
        |       array_to_string(list_sort(list_distinct(list(o_orderstatus))),
        |         ',') AS statuses,
        |       count(*) AS n
        |FROM orders GROUP BY o_custkey ORDER BY o_custkey""".stripMargin,
    // exact hugeint cell terms, summed by the same sorted sequential
    // fold the Spark side uses (zero-init + IEEE add ≡ first-elem-init)
    // exact-mode regime: sketch estimates == exact distinct counts
    "agg_theta_setops" ->
      """WITH e AS (SELECT event_type, user_id FROM events
        |           WHERE user_id IS NOT NULL)
        |SELECT 'users_' || event_type AS set_op,
        |       count(DISTINCT user_id) AS n_users
        |FROM e GROUP BY event_type
        |UNION ALL
        |SELECT 'click_and_view', count(*)
        |FROM (SELECT DISTINCT user_id FROM e WHERE event_type = 'click') c
        |JOIN (SELECT DISTINCT user_id FROM e WHERE event_type = 'view') v
        |  USING (user_id)
        |UNION ALL
        |SELECT 'click_not_view', count(*)
        |FROM (SELECT DISTINCT user_id FROM e WHERE event_type = 'click') c
        |WHERE user_id NOT IN (SELECT user_id FROM e WHERE event_type = 'view')
        |UNION ALL
        |SELECT 'any', count(DISTINCT user_id) FROM e
        |ORDER BY set_op""".stripMargin,
    "stats_cramers_v" ->
      """WITH cells AS (
        |  SELECT o_orderpriority AS r, o_orderstatus AS c,
        |         count(*) AS obs
        |  FROM orders GROUP BY 1, 2),
        |rt AS (SELECT r, sum(obs) AS rt FROM cells GROUP BY 1),
        |ct AS (SELECT c, sum(obs) AS ct FROM cells GROUP BY 1),
        |n AS (SELECT sum(obs) AS n FROM cells),
        |t AS (
        |  SELECT r, c,
        |         CAST((CAST(obs AS HUGEINT) * n.n - rt.rt * ct.ct)
        |              * (CAST(obs AS HUGEINT) * n.n - rt.rt * ct.ct)
        |              AS DOUBLE)
        |           / CAST(CAST(n.n AS HUGEINT) * rt.rt * ct.ct AS DOUBLE)
        |           AS term
        |  FROM cells JOIN rt USING (r) JOIN ct USING (c), n),
        |a AS (
        |  SELECT list_reduce(list(term ORDER BY r, c),
        |                     (acc, x) -> acc + x) AS chi2,
        |         CAST(least((SELECT count(DISTINCT r) FROM cells),
        |                    (SELECT count(DISTINCT c) FROM cells))
        |              AS BIGINT) AS kmin,
        |         (SELECT CAST(n AS BIGINT) FROM n) AS n
        |  FROM t)
        |SELECT chi2, kmin, n,
        |       sqrt(chi2 / (CAST(n AS DOUBLE) * CAST(kmin - 1 AS DOUBLE)))
        |         AS cramers_v
        |FROM a""".stripMargin,
    "agg_chisq" ->
      """WITH cells AS (
        |  SELECT o_orderpriority AS r, o_orderstatus AS c,
        |         count(*) AS obs
        |  FROM orders GROUP BY 1, 2),
        |rt AS (SELECT r, sum(obs) AS rt FROM cells GROUP BY 1),
        |ct AS (SELECT c, sum(obs) AS ct FROM cells GROUP BY 1),
        |n AS (SELECT sum(obs) AS n FROM cells),
        |t AS (
        |  SELECT r, c,
        |         CAST((CAST(obs AS HUGEINT) * n.n - rt.rt * ct.ct)
        |              * (CAST(obs AS HUGEINT) * n.n - rt.rt * ct.ct)
        |              AS DOUBLE)
        |           / CAST(CAST(n.n AS HUGEINT) * rt.rt * ct.ct AS DOUBLE)
        |           AS term
        |  FROM cells JOIN rt USING (r) JOIN ct USING (c), n)
        |SELECT list_reduce(list(term ORDER BY r, c),
        |                   (acc, x) -> acc + x) AS chi2,
        |       CAST(((SELECT count(DISTINCT r) FROM cells) - 1)
        |            * ((SELECT count(DISTINCT c) FROM cells) - 1)
        |            AS INTEGER) AS dof,
        |       CAST(count(*) AS INTEGER) AS cells
        |FROM t""".stripMargin,
    "agg_weighted_avg" ->
      """SELECT l_returnflag,
        |       CAST(sum(CAST(l_quantity AS DECIMAL(12,2))
        |                * CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
        |         / CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)
        |         AS wavg_price,
        |       CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)
        |         AS total_qty,
        |       CAST(count(*) AS BIGINT) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    // integer power sums ($1000-binned, centered); moment formulas
    // mirrored token for token (sqrt not pow)
    "agg_skewkurt" ->
      """WITH a AS (
        |  SELECT o_orderpriority,
        |         CAST(count(*) AS DOUBLE) AS n,
        |         CAST(CAST(sum(y) AS BIGINT) AS DOUBLE) AS s1,
        |         CAST(CAST(sum(y * y) AS BIGINT) AS DOUBLE) AS s2,
        |         CAST(CAST(sum(y * y * y) AS BIGINT) AS DOUBLE) AS s3,
        |         CAST(CAST(sum(y * y * y * y) AS BIGINT) AS DOUBLE) AS s4
        |  FROM (SELECT o_orderpriority,
        |               CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100
        |                    AS BIGINT) // 100000 - 250 AS y
        |        FROM orders)
        |  GROUP BY o_orderpriority),
        |b AS (SELECT *, s1 / n AS mean FROM a),
        |c AS (SELECT *, s2 / n - mean * mean AS m2 FROM b)
        |SELECT o_orderpriority, CAST(n AS BIGINT) AS n, mean, m2,
        |       (s3 / n - 3.0 * mean * (s2 / n) + 2.0 * mean * mean * mean)
        |         / (m2 * sqrt(m2)) AS skew,
        |       (s4 / n - 4.0 * mean * (s3 / n)
        |          + 6.0 * mean * mean * (s2 / n)
        |          - 3.0 * mean * mean * mean * mean)
        |         / (m2 * m2) - 3.0 AS kurt
        |FROM c ORDER BY o_orderpriority""".stripMargin,
    "agg_cube" ->
      """SELECT o_orderpriority, o_orderstatus,
        |       CAST(grouping(o_orderpriority) * 2
        |            + grouping(o_orderstatus) AS INTEGER) AS gid,
        |       count(*) AS n,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |         AS total
        |FROM orders
        |GROUP BY CUBE (o_orderpriority, o_orderstatus)
        |ORDER BY gid, o_orderpriority, o_orderstatus""".stripMargin,
    "agg_weighted_median" ->
      """WITH t AS (
        |  SELECT l_returnflag, l_extendedprice AS price,
        |         sum(CAST(l_quantity AS DECIMAL(18,2))) AS wt
        |  FROM lineitem GROUP BY 1, 2),
        |c AS (
        |  SELECT l_returnflag, price,
        |         sum(wt) OVER (PARTITION BY l_returnflag ORDER BY price) AS cum,
        |         sum(wt) OVER (PARTITION BY l_returnflag) AS tot
        |  FROM t)
        |SELECT l_returnflag, min(price) AS w_median
        |FROM c WHERE cum * 2 >= tot
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "agg_hhi_spend" ->
      """WITH spend AS (
        |  SELECT c_nationkey AS nation, c_custkey,
        |         sum(CAST(o_totalprice AS DECIMAL(18,2))) AS x
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  GROUP BY 1, 2),
        |tot AS (SELECT nation, sum(x) AS t FROM spend GROUP BY nation),
        |sq AS (
        |  SELECT spend.nation,
        |         CAST(round_even(
        |           CAST(x AS DOUBLE) / CAST(t AS DOUBLE) * 100.0
        |           * (CAST(x AS DOUBLE) / CAST(t AS DOUBLE) * 100.0), 12)
        |           AS DECIMAL(20,12)) AS sq
        |  FROM spend JOIN tot ON spend.nation = tot.nation)
        |SELECT nation, CAST(sum(sq) AS DOUBLE) AS hhi,
        |       CAST(count(*) AS BIGINT) AS n_customers
        |FROM sq GROUP BY nation ORDER BY nation""".stripMargin,
    "agg_benford" ->
      """WITH dgt AS (
        |  SELECT substr(CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS VARCHAR),
        |                1, 1) AS digit
        |  FROM orders WHERE o_totalprice > 0),
        |c AS (SELECT digit, CAST(count(*) AS BIGINT) AS n
        |      FROM dgt GROUP BY digit),
        |sh AS (
        |  SELECT digit, n,
        |         round_even(CAST(n AS DOUBLE) /
        |           CAST(sum(n) OVER () AS DOUBLE), 8) AS share,
        |         CASE digit WHEN '1' THEN 0.30103 WHEN '2' THEN 0.17609
        |           WHEN '3' THEN 0.12494 WHEN '4' THEN 0.09691
        |           WHEN '5' THEN 0.07918 WHEN '6' THEN 0.06695
        |           WHEN '7' THEN 0.05799 WHEN '8' THEN 0.05115
        |           WHEN '9' THEN 0.04576 ELSE 0.0 END AS benford_p
        |  FROM c)
        |SELECT digit, n, share, benford_p,
        |       round_even(share - benford_p, 8) AS deviation
        |FROM sh ORDER BY digit""".stripMargin,
    "agg_gini_spend" ->
      """WITH spend AS (
        |  SELECT c_nationkey AS nation, c_custkey,
        |         sum(CAST(o_totalprice AS DECIMAL(18,2))) AS x
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  GROUP BY 1, 2),
        |r AS (
        |  SELECT nation, x,
        |         CAST(row_number() OVER (PARTITION BY nation
        |           ORDER BY x, c_custkey) AS BIGINT) AS r
        |  FROM spend),
        |ss AS (
        |  SELECT nation, CAST(count(*) AS BIGINT) AS n,
        |         sum(x) AS sx, sum(x * r) AS srx
        |  FROM r GROUP BY nation)
        |SELECT nation, n,
        |       round_even(CAST(2 * srx - (n + 1) * sx AS DOUBLE)
        |                  / CAST(n * sx AS DOUBLE), 8) AS gini
        |FROM ss ORDER BY nation""".stripMargin,
    "agg_weighted_percentiles" ->
      """WITH t AS (
        |  SELECT l_returnflag, l_extendedprice AS price,
        |         sum(CAST(l_quantity AS DECIMAL(18,2))) AS wt
        |  FROM lineitem GROUP BY 1, 2),
        |c AS (
        |  SELECT l_returnflag, price,
        |         sum(wt) OVER (PARTITION BY l_returnflag ORDER BY price) AS cum,
        |         sum(wt) OVER (PARTITION BY l_returnflag) AS tot
        |  FROM t)
        |SELECT l_returnflag,
        |       min(CASE WHEN cum * 4 >= tot THEN price END) AS p25,
        |       min(CASE WHEN cum * 2 >= tot THEN price END) AS p50,
        |       min(CASE WHEN cum * 4 >= tot * 3 THEN price END) AS p75
        |FROM c GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "agg_regression" ->
      """WITH e AS (
        |  SELECT event_type, CAST(value AS DECIMAL(12,2)) AS x,
        |         CAST(json_extract(props, '$.k') AS INTEGER) AS y
        |  FROM events),
        |s AS (
        |  SELECT event_type, count(*) AS n,
        |         sum(x) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |         sum(x * y) AS sxy, sum(x * x) AS sx2,
        |         CAST(sum(y * y) AS BIGINT) AS sy2
        |  FROM e WHERE y IS NOT NULL GROUP BY event_type),
        |f AS (
        |  SELECT event_type, n,
        |         CAST(n AS DOUBLE) AS nd, CAST(sx AS DOUBLE) AS sxd,
        |         CAST(sy AS DOUBLE) AS syd, CAST(sxy AS DOUBLE) AS sxyd,
        |         CAST(sx2 AS DOUBLE) AS sx2d, CAST(sy2 AS DOUBLE) AS sy2d
        |  FROM s)
        |SELECT event_type, n,
        |       round_even((nd * sxyd - sxd * syd) / (nd * sx2d - sxd * sxd), 8)
        |         AS slope,
        |       round_even((syd - ((nd * sxyd - sxd * syd)
        |           / (nd * sx2d - sxd * sxd)) * sxd) / nd, 8) AS icept,
        |       round_even((nd * sxyd - sxd * syd) * (nd * sxyd - sxd * syd)
        |         / ((nd * sx2d - sxd * sxd) * (nd * sy2d - syd * syd)), 8)
        |         AS r2
        |FROM f ORDER BY event_type""".stripMargin,
    "agg_cohort_retention" ->
      """WITH e AS (
        |  SELECT user_id, CAST(date_trunc('microseconds', ts) AS DATE) AS day
        |  FROM events),
        |c AS (SELECT user_id, min(day) AS cohort_day FROM e GROUP BY user_id),
        |sz AS (SELECT cohort_day, count(*) AS cohort_size
        |       FROM c GROUP BY cohort_day),
        |a AS (
        |  SELECT c.cohort_day,
        |         CAST(date_diff('day', c.cohort_day, e.day) AS INTEGER)
        |           AS days_since,
        |         count(DISTINCT e.user_id) AS active_users
        |  FROM e JOIN c USING (user_id)
        |  GROUP BY 1, 2)
        |SELECT a.cohort_day, a.days_since, a.active_users,
        |       round_even(CAST(a.active_users AS DOUBLE)
        |         / CAST(sz.cohort_size AS DOUBLE), 4) AS retention
        |FROM a JOIN sz USING (cohort_day)
        |ORDER BY cohort_day, days_since""".stripMargin,
    "agg_boolean_bitwise" ->
      """SELECT o_orderpriority,
        |       bool_and(o_totalprice > 1000.0) AS all_over_1k,
        |       bool_or(o_totalprice > 400000.0) AS any_over_400k,
        |       bool_and(o_custkey > 0) AS every_pos,
        |       count(*) FILTER (o_totalprice > 200000.0) AS n_big,
        |       bit_and(o_custkey) AS key_band,
        |       bit_or(o_custkey) AS key_bor,
        |       bit_xor(o_custkey) AS key_bxor
        |FROM orders GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    "agg_profile_stats" ->
      """SELECT count(*) AS n_rows,
        |       min(o_totalprice) AS price_min,
        |       max(o_totalprice) AS price_max,
        |       count(*) FILTER (o_totalprice IS NULL) AS price_nulls,
        |       count(DISTINCT o_custkey) AS custkey_ndv,
        |       CAST(min(o_orderdate) AS DATE) AS date_min,
        |       CAST(max(o_orderdate) AS DATE) AS date_max,
        |       count(DISTINCT o_orderpriority) AS priority_ndv
        |FROM orders""".stripMargin,
    "agg_corr_exact" ->
      """WITH e AS (
        |  SELECT event_type, CAST(value AS DECIMAL(12,2)) AS x,
        |         CAST(json_extract(props, '$.k') AS INTEGER) AS y
        |  FROM events),
        |s AS (
        |  SELECT event_type, count(*) AS n,
        |         sum(x) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |         sum(x * y) AS sxy, sum(x * x) AS sx2,
        |         CAST(sum(y * y) AS BIGINT) AS sy2
        |  FROM e WHERE y IS NOT NULL GROUP BY event_type)
        |SELECT event_type, n,
        |       round_even(
        |         (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |            - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |         / (sqrt(CAST(n AS DOUBLE) * CAST(sx2 AS DOUBLE)
        |              - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |          * sqrt(CAST(n AS DOUBLE) * CAST(sy2 AS DOUBLE)
        |              - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 8)
        |         AS corr
        |FROM s ORDER BY event_type""".stripMargin,
    "agg_mode" ->
      """WITH b AS (
        |  SELECT event_type, CAST(floor(value / 10) AS INTEGER) AS vb,
        |         count(*) AS c
        |  FROM events GROUP BY 1, 2),
        |r AS (
        |  SELECT event_type, vb, c, row_number() OVER (
        |    PARTITION BY event_type ORDER BY c DESC, vb ASC) AS rn
        |  FROM b)
        |SELECT event_type, vb AS mode_bucket, c AS n
        |FROM r WHERE rn = 1 ORDER BY event_type""".stripMargin,
    "agg_histogram" ->
      """SELECT CAST(least(floor(o_totalprice / 25000.0), 19) AS INTEGER)
        |         AS bucket,
        |       count(*) AS n_orders,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |         AS total_price
        |FROM orders GROUP BY bucket ORDER BY bucket""".stripMargin,
    "agg_ttm_rolling4" ->
      """WITH r AS (
        |  SELECT user_id, value,
        |         row_number() OVER (PARTITION BY user_id
        |           ORDER BY date_trunc('microseconds', ts) DESC, event_id DESC) AS rn
        |  FROM events)
        |SELECT user_id, round_even(sum(coalesce(value, 0)), 2) AS ttm
        |FROM r WHERE rn <= 4 GROUP BY user_id ORDER BY user_id""".stripMargin,
    "agg_ttm_typed" ->
      """WITH r AS (
        |  SELECT user_id, value,
        |         row_number() OVER (PARTITION BY user_id
        |           ORDER BY date_trunc('microseconds', ts) DESC, event_id DESC) AS rn
        |  FROM events)
        |SELECT user_id, round_even(sum(coalesce(value, 0)), 2) AS ttm
        |FROM r WHERE rn <= 4 GROUP BY user_id ORDER BY user_id""".stripMargin,
    "agg_q6_filtered_sum" ->
      """SELECT round_even(sum(l_extendedprice * l_discount), 4) AS revenue,
        |       count(*) AS n
        |FROM lineitem
        |WHERE l_shipdate BETWEEN TIMESTAMP '1997-01-01 00:00:00' AND TIMESTAMP '1997-12-31 00:00:00'
        |  AND l_discount BETWEEN 0.02 AND 0.06 AND l_quantity < 24""".stripMargin,
    "agg_percentile" ->
      """SELECT l_returnflag,
        |       round_even(quantile_cont(l_quantity, 0.5), 4) AS p50_qty,
        |       round_even(quantile_cont(l_extendedprice, 0.9), 4) AS p90_price,
        |       round_even(quantile_cont(l_discount, 0.25), 4) AS p25_disc
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "agg_salted_skew" ->
      """SELECT event_type, count(*) AS n, round_even(sum(value), 2) AS sum_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "agg_group_stats" ->
      """SELECT l_returnflag, l_linestatus,
        |       round_even(sum(l_quantity), 2) AS sum_qty,
        |       round_even(sum(l_extendedprice), 2) AS sum_base,
        |       round_even(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_disc,
        |       round_even(avg(l_quantity), 4) AS avg_qty,
        |       round_even(avg(l_extendedprice), 4) AS avg_price,
        |       count(*) AS n
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "agg_distinct" ->
      "SELECT DISTINCT o_custkey FROM orders ORDER BY o_custkey",
    "agg_collect_list" ->
      """SELECT n_name, to_json(list(s_name ORDER BY s_name)) AS members
        |FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin,
    "agg_count_conditional" ->
      """SELECT o_orderpriority, count(*) AS total,
        |       count(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS n_f,
        |       CAST(sum(CASE WHEN o_totalprice > 200000 THEN 1 ELSE 0 END) AS BIGINT) AS n_big
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "agg_grouping_sets" ->
      """SELECT n_name, o_orderpriority, count(*) AS n,
        |       round_even(sum(o_totalprice), 2) AS total,
        |       CAST(GROUPING(n_name, o_orderpriority) AS INTEGER) AS gid
        |FROM orders
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY ROLLUP (n_name, o_orderpriority)
        |ORDER BY gid, n_name ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin,
    // the frequent-items sketch is exact while the item domain fits its
    // tracking table, so the plain GROUP BY top-3 is a true oracle here
    "agg_approx_topk" ->
      """SELECT event_type, count(*) AS n FROM events
        |GROUP BY event_type ORDER BY n DESC, event_type LIMIT 3""".stripMargin)
}
