package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** SURVEY.md §2.D — joins.
  *
  * Scale posture: every dim lookup is an explicit `broadcast()` (region/
  * nation/supplier/part stay tiny at all SFs — FIXTURES.md), the fact-fact
  * equi join is a shuffle join AQE can re-plan, semi/anti joins never
  * materialize the probe side's payload, and the range join keeps its
  * build side bounded so BroadcastNestedLoop stays cheap.
  */
object Joins extends graft.QueryModule {

  /** FX lookup: broadcast left join against a tiny rate dim, validity
    * predicate `rate > 0`, default 1.0 on miss (`fetch_data.py:38-51`,
    * applied at 168-172). */
  private def fxRate(s: SparkSession, d: String): DataFrame = {
    val fx = Tables.supplier(s, d)
      .filter(col("s_suppkey") % 3 =!= 0)
      .select(col("s_suppkey"), (col("s_acctbal") / 1000).as("rate"))
    Tables.lineitem(s, d)
      .join(broadcast(fx), col("l_suppkey") === col("s_suppkey"), "left_outer")
      .select(col("l_orderkey"), col("l_linenumber"),
        bround(col("l_extendedprice") / coalesce(when(col("rate") > 0, col("rate")), lit(1.0)), 2)
          .as("usd"))
      .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_suppkey"), col("l_partkey"), col("l_quantity"), col("l_extendedprice"))
  }

  /** Literal config-dim lookup with defaults on miss
    * (`fetch_data.py:72-82`): left join + coalesce to the 'General' row. */
  private def dimConfig(s: SparkSession, d: String): DataFrame = {
    val cfg = Dims.segmentConfigDF(s).filter(col("seg") =!= "FURNITURE")
    Tables.customer(s, d)
      .join(broadcast(cfg), col("c_mktsegment") === col("seg"), "left_outer")
      .select(col("c_custkey"), col("c_mktsegment"),
        coalesce(col("maxg"), lit(20.0)).as("max_growth"),
        coalesce(col("ming"), lit(-2.0)).as("min_growth"),
        coalesce(col("cyc"), lit(false)).as("cyclical"))
      .orderBy("c_custkey")
  }

  /** Membership (ticker-in-list) as a LEFT SEMI join
    * (`fetch_data.py:294-296`). */
  private def listMembership(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .join(Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING"),
        col("o_custkey") === col("c_custkey"), "left_semi")
      .select(col("o_orderkey"), col("o_custkey"))
      .orderBy("o_orderkey")

  /** Requested-but-not-produced keys as a LEFT ANTI join
    * (`fetch_data.py:277-279,311`). */
  private def antiFailures(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"))
      .orderBy("c_custkey")

  /** Fact-to-fact equi join, TPC-H Q3 shape [N]: top-10 revenue orders for
    * one segment. Sort-merge/broadcast picked by AQE; TakeOrderedAndProject
    * caps the result. */
  private def equiLarge(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
      .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"))
      .join(Tables.lineitem(s, d), col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderkey"), col("o_orderdate"))
      .agg(bround(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4).as("revenue"))
      .orderBy(col("revenue").desc, col("o_orderkey"))
      .limit(10)

  /** As-of (backward) join: last value at-or-before each probe timestamp
    * (`fetch_data.py:156-160` — last non-null Close before now). No native
    * Spark as-of: bounded-probe rewrite via filter + max_by per key. */
  private def asofPrice(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
    val probes = ev.groupBy(col("user_id"))
      .agg((max(col("ts")) - expr("INTERVAL 1 HOUR")).as("probe_ts"))
    val matched = probes.join(ev, Seq("user_id"))
      .filter(col("ts") <= col("probe_ts"))
      .groupBy(col("user_id"), col("probe_ts"))
      .agg(max_by(col("value"), struct(col("ts"), col("event_id"))).as("last_value"))
    probes.join(matched, Seq("user_id", "probe_ts"), "left_outer")
      .select(col("user_id"), col("probe_ts"), col("last_value"))
      .orderBy("user_id")
  }

  /** Five-table star join (TPC-H Q5 shape) [N]: two broadcast dims +
    * fact-fact joins + co-located supplier/customer nation predicate —
    * the full warehouse join topology in one plan. */
  private def starQ5(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"))
      .join(Tables.lineitem(s, d), col("o_orderkey") === col("l_orderkey"))
      .join(Tables.supplier(s, d),
        col("l_suppkey") === col("s_suppkey") && col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
      .filter(col("r_name") === "ASIA")
      .groupBy(col("n_name"))
      .agg(bround(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4).as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))

  /** The SAME as-of semantics through the native operator
    * (`graft.plans.AsOfJoin`: custom LogicalPlan + SparkStrategy +
    * sort-merge SparkPlan) — one streaming merge pass instead of the
    * filter+max_by double scan; same oracle as `join_asof_price`. */
  private def asofNative(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
    val probes = ev.groupBy(col("user_id"))
      .agg((max(col("ts")) - expr("INTERVAL 1 HOUR")).as("ts"))
    graft.plans.AsOf.joinBackward(probes, ev, "user_id", "ts", "event_id", "value")
      .select(col("user_id"), col("ts").as("probe_ts"), col("last_value"))
      .orderBy("user_id")
  }

  /** Forward direction through the same native operator [N]: earliest
    * event at-or-after (max ts − 2 h) per user — `merge_asof`'s
    * direction="forward", one streaming merge, peek-not-consume match. */
  private def asofForward(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
    val probes = ev.groupBy(col("user_id"))
      .agg((max(col("ts")) - expr("INTERVAL 2 HOUR")).as("ts"))
    graft.plans.AsOf.joinForward(probes, ev, "user_id", "ts", "event_id", "value")
      .select(col("user_id"), col("ts").as("probe_ts"), col("next_value"))
      .orderBy("user_id")
  }

  /** Nearest-direction as-of [N]: closer of backward/forward matches at
    * (max ts − 90 min) per user, ties → backward. Two native merges. */
  private def asofNearest(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
    val probes = ev.groupBy(col("user_id"))
      .agg((max(col("ts")) - expr("INTERVAL 90 MINUTE")).as("ts"))
    graft.plans.AsOf.joinNearest(probes, ev, "user_id", "ts", "event_id", "value")
      .select(col("user_id"), col("ts").as("probe_ts"), col("nearest_value"))
      .orderBy("user_id")
  }

  /** Strict backward as-of [N] (`merge_asof(allow_exact_matches=False)`):
    * probes sit exactly ON each user's last event time, so the
    * non-strict match would be that event itself — strict must return
    * the previous one (or null for single-event users). Same native
    * one-pass merge, inequality flipped in the consume condition. */
  private def asofStrict(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
    val probes = ev.groupBy(col("user_id")).agg(max(col("ts")).as("ts"))
    graft.plans.AsOf.joinBackward(probes, ev, "user_id", "ts", "event_id",
        "value", allowExactMatches = false)
      .select(col("user_id"), col("ts").as("probe_ts"), col("last_value"))
      .orderBy("user_id")
  }

  /** Tolerance-bounded backward as-of [N] (`merge_asof(tolerance=...)`):
    * the match must lie within 30 minutes of the probe or the row nulls
    * out — the staleness bound every market-data join wants. Composed
    * over the native merge (the match time rides a struct, the bound is
    * a plain probe-side filter). */
  private def asofTolerance(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
    val probes = ev.groupBy(col("user_id"))
      .agg((max(col("ts")) - expr("INTERVAL 1 HOUR")).as("ts"))
    graft.plans.AsOf.joinBackwardTolerance(probes, ev, "user_id", "ts",
        "event_id", "value", expr("INTERVAL 30 MINUTES"))
      .select(col("user_id"), col("ts").as("probe_ts"), col("last_value"))
      .orderBy("user_id")
  }

  /** Range/interval (theta) join [N]: bounded build side broadcast,
    * nested-loop with a BETWEEN predicate. */
  private def rangeInterval(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d).filter(col("c_custkey") < 20)
      .select(col("c_custkey"), col("c_acctbal"))
    val o = Tables.orders(s, d)
    broadcast(c).join(o,
        o("o_totalprice").between(c("c_acctbal") * 10, c("c_acctbal") * 10 + 50000))
      .select(col("c_custkey"), col("o_orderkey"))
      .orderBy("c_custkey", "o_orderkey")
  }

  /** Runtime bloom-filter join pruning [N] — the 100 TB semi-join story:
    * when the build side is selective but too large to broadcast as a
    * hash table, ship its key BLOOM FILTER (a few KB) instead and drop
    * non-matching probe rows BEFORE the shuffle. The bits are built as a
    * one-row scalar subquery over the filtered dim keys and tested
    * map-side on the fact (`graft_bloom_contains`); the join is hinted
    * `merge` so the exchange the bloom shrinks is actually in the plan
    * (a broadcast join at this SF would hide the point). Correctness is
    * unconditional: bloom false positives pass the filter but are
    * eliminated by the exact join, so the result equals the plain join
    * for ANY fpp — which is exactly what the oracle checks. */
  private def bloomPruned(s: SparkSession, d: String): DataFrame = {
    val cust = Tables.customer(s, d)
      .filter(col("c_mktsegment") === "MACHINERY" && col("c_acctbal") > 4500)
      .select(col("c_custkey"), col("c_name"))
    val nKeys = 10000L
    val nBits = 131072L
    val bits = cust
      .agg(call_function("graft_bloom_agg", xxhash64(col("c_custkey")),
        lit(nKeys), lit(nBits)).as("bits"))
      .scalar()
    Tables.orders(s, d)
      .filter(call_function("graft_bloom_contains", bits, xxhash64(col("o_custkey"))))
      .hint("merge")
      .join(cust, col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_custkey"), col("c_name"))
      .agg(count(lit(1)).cast("int").as("n_orders"),
        max(col("o_totalprice")).as("max_price"))
      .orderBy("c_custkey")
  }

  /** Salted skewed join [N] — [[Skew.saltedJoin]] exercised on the most
    * skew-hostile shape there is: a fact joined on a 5-value key
    * (`o_orderpriority`), where an unsalted shuffle join sends ~20% of
    * the table to ONE reducer. The dim carries per-priority decimal
    * (sum, count); "above average" is tested as `price × cnt > sum` —
    * exact decimal arithmetic, no division, no float-order sensitivity —
    * so the salted plan's answer is bit-equal to the oracle's plain
    * join. `shuffle_hash` hint keeps the 5-row dim out of a broadcast,
    * which would dissolve the shuffle the salting is demonstrating (at
    * real scale the small side is a few GB — shuffled, not broadcast). */
  private def saltedSkewJoin(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d).select(col("o_orderpriority"),
      col("o_totalprice").cast("decimal(12,2)").as("price"))
    val dim = o.groupBy(col("o_orderpriority"))
      .agg(sum(col("price")).as("prio_sum"), count(lit(1)).as("prio_cnt"))
    Skew.saltedJoin(o, dim.hint("shuffle_hash"), Seq("o_orderpriority"), saltN = 8)
      .groupBy(col("o_orderpriority"))
      .agg(sum(when(col("price") * col("prio_cnt") > col("prio_sum"), 1L)
        .otherwise(0L)).cast("int").as("n_above"),
        count(lit(1)).cast("int").as("n_total"))
      .orderBy("o_orderpriority")
  }

  /** Bucketed (binned) interval join [N] — the 100 TB form of
    * [[rangeInterval]]. A BETWEEN join has no equi-key, so Spark's only
    * built-in plan is a broadcast-nested-loop — O(|points| × |intervals|)
    * compares and a full build-side broadcast, which dies the moment the
    * interval side outgrows one executor. The standard fix (DB2/Trino
    * range-join binning, public): quantize the domain into width-B
    * buckets, explode each interval onto the ≤ ⌈w/B⌉+1 buckets it
    * overlaps, tag each point with its ONE bucket, equi-join on the
    * bucket id, and re-check the exact BETWEEN as a residual filter. With
    * B ≥ the max interval width the expansion is ≤ 2×, the join is a
    * plain shuffled hash/merge join — partitionable, AQE-skew-splittable,
    * no broadcast of either side — and the residual keeps it EXACT, which
    * is what the oracle (a plain BETWEEN join) certifies. */
  def intervalJoinBucketed(points: DataFrame, intervals: DataFrame,
                           v: Column, lo: Column, hi: Column,
                           bucketWidth: Double): DataFrame = {
    val b = lit(bucketWidth)
    val iv = intervals.withColumn("__b",
      explode(sequence(floor(lo / b).cast("long"), floor(hi / b).cast("long"))))
    val pt = points.withColumn("__b", floor(v / b).cast("long"))
    pt.join(iv, Seq("__b")).filter(v.between(lo, hi)).drop("__b")
  }

  private def rangeBucketed(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d)
      .select(col("c_custkey"), col("c_acctbal") * 10 as "lo")
      .withColumn("hi", col("lo") + 500)
    val o = Tables.orders(s, d).select(col("o_orderkey"), col("o_totalprice"))
    intervalJoinBucketed(o, c, col("o_totalprice"), col("lo"), col("hi"), 500.0)
      .select(col("c_custkey"), col("o_orderkey"))
      .orderBy("c_custkey", "o_orderkey")
  }

  /** Point-in-time (PIT) lookup against an SCD2 dimension: each probe
    * (user × weekly grid over the data's one-month span) retrieves the
    * version row whose `[valid_from, valid_to)` interval contains the
    * probe instant. The SCD2 dimension is the same tiling
    * `scd2_intervals` builds; because intervals tile disjointly per
    * user, the range residual matches AT MOST one version per probe.
    * Plan shape: an equi-join on `user_id` (shuffle-partitionable,
    * skew-splittable) with the interval residual applied inside the
    * join — never a broadcast-nested-loop over all versions. */
  private def scd2Pit(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("valid_from"), col("event_id"))
    val dim = Tables.events(s, d)
      .select(col("user_id"), col("event_id"), col("value"),
        col("ts").as("valid_from"))
      .withColumn("valid_to", coalesce(lead(col("valid_from"), 1).over(w),
        lit("2200-01-01 00:00:00").cast("timestamp")))
      .withColumn("version", row_number().over(w))
    val grid = s.range(1).select(explode(expr(
      """sequence(timestamp'2024-01-08 00:00:00',
        |         timestamp'2024-01-29 00:00:00',
        |         interval 7 days)""".stripMargin)).as("pit_ts"))
    val probes = Tables.events(s, d).select(col("user_id")).distinct()
      .crossJoin(broadcast(grid))
    probes.join(dim,
        probes("user_id") === dim("user_id") &&
          col("pit_ts") >= col("valid_from") && col("pit_ts") < col("valid_to"))
      .select(probes("user_id"), col("pit_ts"), col("version"), col("value"))
      .orderBy("user_id", "pit_ts")
  }

  /** Null-safe equi-join (`<=>`): both sides aggregate events by a key
    * that is deliberately NULL for sub-100 values, then join so the two
    * NULL groups pair up like any other key. Catalyst plans EqualNullSafe
    * as a plain hash-join key (no null-filtering, no fallback to a
    * nested loop) — the join stays shuffle-partitionable at scale. */
  private def nullSafeJoin(s: SparkSession, d: String): DataFrame = {
    def side(t: String, n: String) = Tables.events(s, d)
      .filter(col("event_type") === t)
      .select(nullif(floor(col("value") / 100).cast("int"), lit(0)).as(n))
      .groupBy(col(n)).agg(count(lit(1)).as(s"n_$t"))
    side("view", "k").join(side("click", "k2"), col("k") <=> col("k2"))
      .select(col("k"), col("n_view"), col("n_click"))
      .orderBy(col("k"))
  }

  /** Full outer join [N]: per-customer aggregates of open ('O') and
    * finished ('F') orders, joined FULL OUTER so a customer present on
    * either side survives with null-filled columns from the missing
    * side. Catalyst cannot broadcast a full outer join — it plans a
    * shuffle sort-merge join with both sides hash-partitioned on the
    * key, which is exactly the layout that scales: each side is already
    * the output of a hash aggregate on the same key, so AQE reuses the
    * exchange and the join adds no extra shuffle. */
  private def fullOuter(s: SparkSession, d: String): DataFrame = {
    def side(status: String, cnt: String, mx: String) =
      Tables.orders(s, d)
        .filter(col("o_orderstatus") === status)
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as(cnt), max(col("o_totalprice")).as(mx))
    val open = side("O", "n_open", "max_open")
    val fin = side("F", "n_fin", "max_fin")
      .withColumnRenamed("o_custkey", "ck2")
    open.join(fin, col("o_custkey") === col("ck2"), "full_outer")
      .select(coalesce(col("o_custkey"), col("ck2")).as("custkey"),
        col("n_open"), col("max_open"), col("n_fin"), col("max_fin"))
      .orderBy("custkey")
  }

  /** The SAME naive BETWEEN join as `join_range_bucketed` — but the user
    * writes the nested-loop-shaped query and
    * [[graft.rules.RewriteRangeJoin]] produces the binned equi-join.
    * The rule is applied DIRECTLY to the analyzed plan here (conf set
    * only around that call) and the result re-wrapped, so the returned
    * DataFrame's LOGICAL plan is already the bucketed join — every
    * derived action (Verify's write, Bench's count) re-plans from the
    * rewritten plan with no session-global conf left behind. (The
    * conf-gated in-optimizer path is exercised by RulesSpec and
    * ExtensionsSpec; an earlier pin-the-physical-plan variant of this
    * key silently fell back to the nested loop in any derived action —
    * caught when Bench showed 28 s against the twin's 1.6 s.)
    * Same oracle as the hand-built form: exactness proof. */
  private def rangeRewritten(s: SparkSession, d: String): DataFrame = {
    import graft.rules.RewriteRangeJoin
    val c = Tables.customer(s, d)
      .select(col("c_custkey"), (col("c_acctbal") * 10).as("lo"))
      .withColumn("hi", col("lo") + 500)
    val o = Tables.orders(s, d).select(col("o_orderkey"), col("o_totalprice"))
    val naive = o.join(c, col("o_totalprice").between(col("lo"), col("hi")))
    s.conf.set(RewriteRangeJoin.WidthConf, "500.0")
    val rewritten =
      try RewriteRangeJoin(naive.queryExecution.analyzed)
      finally s.conf.unset(RewriteRangeJoin.WidthConf)
    assert(rewritten.toString.contains("__graft_bucket"),
      "RewriteRangeJoin did not fire on the naive BETWEEN join")
    org.apache.spark.sql.GraftSqlBridge.ofRows(s, rewritten)
      .select(col("c_custkey"), col("o_orderkey"))
      .orderBy("c_custkey", "o_orderkey")
  }

  /** Multi-column as-of retrieval through the native operator [N]: the
    * series value is a STRUCT (price + event type), proving the exec's
    * "value may be any type" contract end-to-end — one merge pass
    * carries the whole payload; the probe flattens it after the join.
    * (The alternative — two as-of joins, one per column — would scan
    * the series twice and can desynchronize under ties.) */
  private def asofPayload(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"),
        struct(col("value"), col("event_type")).as("payload"))
    val probes = ev.groupBy(col("user_id"))
      .agg((max(col("ts")) - expr("INTERVAL 1 HOUR")).as("ts"))
    graft.plans.AsOf.joinBackward(probes, ev, "user_id", "ts", "event_id",
        "payload")
      .select(col("user_id"), col("ts").as("probe_ts"),
        col("last_value.value").as("last_price"),
        col("last_value.event_type").as("last_type"))
      .orderBy("user_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "join_asof_payload" -> asofPayload,
    "join_range_rewritten" -> rangeRewritten,
    "join_scd2_pit" -> scd2Pit,
    "join_null_safe" -> nullSafeJoin,
    "join_full_outer" -> fullOuter,
    "join_range_bucketed" -> rangeBucketed,
    "join_salted_skew" -> saltedSkewJoin,
    "join_bloom_pruned" -> bloomPruned,
    "join_fx_rate" -> fxRate,
    "join_dim_config" -> dimConfig,
    "join_list_membership" -> listMembership,
    "join_anti_failures" -> antiFailures,
    "join_equi_large" -> equiLarge,
    "join_star_q5" -> starQ5,
    "join_asof_price" -> asofPrice,
    "join_asof_native" -> asofNative,
    "join_asof_forward" -> asofForward,
    "join_asof_nearest" -> asofNearest,
    "join_asof_strict" -> asofStrict,
    "join_asof_tolerance" -> asofTolerance,
    "join_range_interval" -> rangeInterval)

  val oracles: Map[String, String] = Map(
    "join_asof_payload" ->
      """WITH e AS (
        |  SELECT user_id, date_trunc('microseconds', ts) AS ts,
        |         event_id, value, event_type
        |  FROM events),
        |p AS (
        |  SELECT user_id, max(ts) - INTERVAL 1 HOUR AS probe_ts
        |  FROM e GROUP BY user_id)
        |SELECT p.user_id, p.probe_ts,
        |       (SELECT e.value FROM e
        |        WHERE e.user_id = p.user_id AND e.ts <= p.probe_ts
        |        ORDER BY e.ts DESC, e.event_id DESC LIMIT 1) AS last_price,
        |       (SELECT e.event_type FROM e
        |        WHERE e.user_id = p.user_id AND e.ts <= p.probe_ts
        |        ORDER BY e.ts DESC, e.event_id DESC LIMIT 1) AS last_type
        |FROM p ORDER BY p.user_id""".stripMargin,
    "join_scd2_pit" ->
      """WITH e AS (
        |  SELECT user_id, event_id, value,
        |         date_trunc('microseconds', ts) AS valid_from
        |  FROM events),
        |dim AS (
        |  SELECT user_id, value,
        |         valid_from,
        |         coalesce(lead(valid_from, 1) OVER (PARTITION BY user_id
        |             ORDER BY valid_from, event_id),
        |           TIMESTAMP '2200-01-01 00:00:00') AS valid_to,
        |         CAST(row_number() OVER (PARTITION BY user_id
        |             ORDER BY valid_from, event_id) AS INTEGER) AS version
        |  FROM e),
        |probes AS (
        |  SELECT u.user_id, g.pit_ts
        |  FROM (SELECT DISTINCT user_id FROM events) u,
        |       unnest(generate_series(TIMESTAMP '2024-01-08',
        |         TIMESTAMP '2024-01-29', INTERVAL 7 DAY)) g(pit_ts))
        |SELECT p.user_id, p.pit_ts, d.version, d.value
        |FROM probes p JOIN dim d
        |  ON p.user_id = d.user_id
        | AND p.pit_ts >= d.valid_from AND p.pit_ts < d.valid_to
        |ORDER BY p.user_id, p.pit_ts""".stripMargin,
    "join_null_safe" ->
      """WITH v AS (
        |  SELECT nullif(CAST(floor(value / 100) AS INTEGER), 0) AS k,
        |         count(*) AS n_view
        |  FROM events WHERE event_type = 'view' GROUP BY 1),
        |c AS (
        |  SELECT nullif(CAST(floor(value / 100) AS INTEGER), 0) AS k,
        |         count(*) AS n_click
        |  FROM events WHERE event_type = 'click' GROUP BY 1)
        |SELECT v.k, v.n_view, c.n_click
        |FROM v JOIN c ON v.k IS NOT DISTINCT FROM c.k
        |ORDER BY v.k NULLS FIRST""".stripMargin,
    "join_full_outer" ->
      """WITH a AS (
        |  SELECT o_custkey, count(*) AS n_open, max(o_totalprice) AS max_open
        |  FROM orders WHERE o_orderstatus = 'O' GROUP BY 1),
        |b AS (
        |  SELECT o_custkey, count(*) AS n_fin, max(o_totalprice) AS max_fin
        |  FROM orders WHERE o_orderstatus = 'F' GROUP BY 1)
        |SELECT coalesce(a.o_custkey, b.o_custkey) AS custkey,
        |       n_open, max_open, n_fin, max_fin
        |FROM a FULL OUTER JOIN b ON a.o_custkey = b.o_custkey
        |ORDER BY custkey""".stripMargin,
    "join_salted_skew" ->
      """WITH o AS (
        |  SELECT o_orderpriority, CAST(o_totalprice AS DECIMAL(12,2)) AS price
        |  FROM orders),
        |dim AS (
        |  SELECT o_orderpriority, sum(price) AS prio_sum, count(*) AS prio_cnt
        |  FROM o GROUP BY 1)
        |SELECT o.o_orderpriority,
        |       CAST(sum(CASE WHEN o.price * dim.prio_cnt > dim.prio_sum
        |                     THEN 1 ELSE 0 END) AS INTEGER) AS n_above,
        |       CAST(count(*) AS INTEGER) AS n_total
        |FROM o JOIN dim USING (o_orderpriority)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "join_bloom_pruned" ->
      """SELECT c_custkey, c_name, CAST(count(*) AS INTEGER) AS n_orders,
        |       max(o_totalprice) AS max_price
        |FROM customer JOIN orders ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'MACHINERY' AND c_acctbal > 4500
        |GROUP BY c_custkey, c_name
        |ORDER BY c_custkey""".stripMargin,
    "join_fx_rate" ->
      """SELECT l_orderkey, l_linenumber,
        |       round_even(l_extendedprice /
        |         coalesce(CASE WHEN fx.rate > 0 THEN fx.rate END, 1.0), 2) AS usd
        |FROM lineitem LEFT JOIN (
        |  SELECT s_suppkey, s_acctbal / 1000 AS rate
        |  FROM supplier WHERE s_suppkey % 3 <> 0) fx
        |ON l_suppkey = fx.s_suppkey
        |ORDER BY l_orderkey, l_linenumber, l_suppkey, l_partkey, l_quantity, l_extendedprice""".stripMargin,
    "join_dim_config" ->
      ("WITH " + Dims.segmentConfigSql + """
        |SELECT c_custkey, c_mktsegment,
        |       coalesce(maxg, 20.0) AS max_growth,
        |       coalesce(ming, -2.0) AS min_growth,
        |       coalesce(cyc, false) AS cyclical
        |FROM customer LEFT JOIN (SELECT * FROM cfg WHERE seg <> 'FURNITURE') c2
        |ON c_mktsegment = c2.seg
        |ORDER BY c_custkey""").stripMargin,
    "join_list_membership" ->
      """SELECT o_orderkey, o_custkey FROM orders
        |WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
        |ORDER BY o_orderkey""".stripMargin,
    "join_anti_failures" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin,
    "join_equi_large" ->
      """SELECT o_orderkey, o_orderdate,
        |       round_even(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
        |FROM customer
        |  JOIN orders ON c_custkey = o_custkey
        |  JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |GROUP BY o_orderkey, o_orderdate
        |ORDER BY revenue DESC, o_orderkey LIMIT 10""".stripMargin,
    "join_star_q5" ->
      """SELECT n_name,
        |       round_even(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
        |FROM customer
        |  JOIN orders ON c_custkey = o_custkey
        |  JOIN lineitem ON o_orderkey = l_orderkey
        |  JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin,
    "join_asof_native" ->
      """WITH p AS (
        |  SELECT user_id,
        |         max(date_trunc('microseconds', ts)) - INTERVAL 1 HOUR AS probe_ts
        |  FROM events GROUP BY user_id)
        |SELECT p.user_id, p.probe_ts,
        |       (SELECT e.value FROM events e
        |        WHERE e.user_id = p.user_id
        |          AND date_trunc('microseconds', e.ts) <= p.probe_ts
        |        ORDER BY date_trunc('microseconds', e.ts) DESC, e.event_id DESC
        |        LIMIT 1) AS last_value
        |FROM p ORDER BY user_id""".stripMargin,
    "join_asof_forward" ->
      """WITH p AS (
        |  SELECT user_id,
        |         max(date_trunc('microseconds', ts)) - INTERVAL 2 HOUR AS probe_ts
        |  FROM events GROUP BY user_id)
        |SELECT p.user_id, p.probe_ts,
        |       (SELECT e.value FROM events e
        |        WHERE e.user_id = p.user_id
        |          AND date_trunc('microseconds', e.ts) >= p.probe_ts
        |        ORDER BY date_trunc('microseconds', e.ts) ASC, e.event_id ASC
        |        LIMIT 1) AS next_value
        |FROM p ORDER BY user_id""".stripMargin,
    // nearest = min |Δt|; at equal distance the backward row wins, and
    // within a side the side's own tiebreak applies (backward: max
    // event_id; forward: min event_id) — hence the 3-level ORDER BY
    "join_asof_nearest" ->
      """WITH p AS (
        |  SELECT user_id,
        |         max(date_trunc('microseconds', ts)) - INTERVAL 90 MINUTE AS probe_ts
        |  FROM events GROUP BY user_id)
        |SELECT p.user_id, p.probe_ts,
        |       (SELECT e.value FROM events e
        |        WHERE e.user_id = p.user_id
        |        ORDER BY abs(epoch_us(date_trunc('microseconds', e.ts)) - epoch_us(p.probe_ts)),
        |                 CASE WHEN date_trunc('microseconds', e.ts) <= p.probe_ts THEN 0 ELSE 1 END,
        |                 CASE WHEN date_trunc('microseconds', e.ts) <= p.probe_ts
        |                      THEN -e.event_id ELSE e.event_id END
        |        LIMIT 1) AS nearest_value
        |FROM p ORDER BY user_id""".stripMargin,
    "join_asof_price" ->
      """WITH p AS (
        |  SELECT user_id,
        |         max(date_trunc('microseconds', ts)) - INTERVAL 1 HOUR AS probe_ts
        |  FROM events GROUP BY user_id)
        |SELECT p.user_id, p.probe_ts,
        |       (SELECT e.value FROM events e
        |        WHERE e.user_id = p.user_id
        |          AND date_trunc('microseconds', e.ts) <= p.probe_ts
        |        ORDER BY date_trunc('microseconds', e.ts) DESC, e.event_id DESC
        |        LIMIT 1) AS last_value
        |FROM p ORDER BY user_id""".stripMargin,
    "join_asof_strict" ->
      """WITH p AS (
        |  SELECT user_id, max(date_trunc('microseconds', ts)) AS probe_ts
        |  FROM events GROUP BY user_id)
        |SELECT p.user_id, p.probe_ts,
        |       (SELECT e.value FROM events e
        |        WHERE e.user_id = p.user_id
        |          AND date_trunc('microseconds', e.ts) < p.probe_ts
        |        ORDER BY date_trunc('microseconds', e.ts) DESC, e.event_id DESC
        |        LIMIT 1) AS last_value
        |FROM p ORDER BY user_id""".stripMargin,
    "join_asof_tolerance" ->
      """WITH p AS (
        |  SELECT user_id,
        |         max(date_trunc('microseconds', ts)) - INTERVAL 1 HOUR AS probe_ts
        |  FROM events GROUP BY user_id)
        |SELECT p.user_id, p.probe_ts,
        |       (SELECT e.value FROM events e
        |        WHERE e.user_id = p.user_id
        |          AND date_trunc('microseconds', e.ts) <= p.probe_ts
        |          AND date_trunc('microseconds', e.ts) >= p.probe_ts - INTERVAL 30 MINUTE
        |        ORDER BY date_trunc('microseconds', e.ts) DESC, e.event_id DESC
        |        LIMIT 1) AS last_value
        |FROM p ORDER BY user_id""".stripMargin,
    "join_range_interval" ->
      """SELECT c_custkey, o_orderkey
        |FROM customer JOIN orders
        |  ON o_totalprice BETWEEN c_acctbal * 10 AND c_acctbal * 10 + 50000
        |WHERE c_custkey < 20
        |ORDER BY c_custkey, o_orderkey""".stripMargin,
    "join_range_bucketed" ->
      """SELECT c_custkey, o_orderkey
        |FROM customer JOIN orders
        |  ON o_totalprice BETWEEN c_acctbal * 10 AND c_acctbal * 10 + 500
        |ORDER BY c_custkey, o_orderkey""".stripMargin,
    "join_range_rewritten" ->
      """SELECT c_custkey, o_orderkey
        |FROM customer JOIN orders
        |  ON o_totalprice BETWEEN c_acctbal * 10 AND c_acctbal * 10 + 500
        |ORDER BY c_custkey, o_orderkey""".stripMargin)
}
