package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.expr.Metrics

/** SURVEY.md §2.B — projections, filters, predicates, scalar expressions.
  *
  * Each key exercises one reference behavior (see file:line per def) over
  * the driver testdata. All logic is native `Column` expressions — no UDFs
  * — so everything stays inside whole-stage codegen and the scans keep
  * pushed filters + pruned columns.
  */
object Exprs extends graft.QueryModule {

  /** 22-field snapshot projection shape: computed + literal columns +
    * (frozen) timestamp (`fetch_data.py:246-273`). */
  private def projSnapshot(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d).select(
      concat(lit("L-"), col("l_orderkey"), lit("-"), col("l_linenumber")).as("ticker"),
      col("l_extendedprice").as("price"),
      bround(col("l_extendedprice") * col("l_quantity"), 2).as("market_cap"),
      // raw IEEE products (not rounded): 2dp×2dp products sit exactly on
      // .xx5 rounding ties where Spark's BigDecimal-exact bround and
      // DuckDB's scaled round_even disagree; the unrounded double is
      // bit-identical in both engines.
      (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue_ttm"),
      (col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) - col("l_tax")) - 100.0)
        .as("net_income_ttm"),
      col("l_quantity").cast("bigint").as("shares_outstanding"),
      lit("USD").as("currency_code"),
      lit("2026-01-01T00:00:00Z").as("last_updated"))
      .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_suppkey"), col("l_partkey"), col("l_quantity"), col("l_extendedprice"))

  /** Row rejection on missing/non-positive price (`fetch_data.py:163-165`). */
  private def filterPositive(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .filter(col("l_extendedprice").isNotNull && col("l_extendedprice") > 0 &&
        col("l_discount").between(0.01, 0.06))
      .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"), col("l_discount"))
      .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_suppkey"), col("l_partkey"), col("l_quantity"), col("l_extendedprice"))

  /** Python-truthiness fallback chain — 0 counts as missing
    * (`fetch_data.py:142-146`). */
  private def coalesceChain(s: SparkSession, d: String): DataFrame = {
    val c1 = when(col("l_linenumber") % 3 === 0, 0.0).otherwise(col("l_extendedprice"))
    val c2 = when(col("l_linenumber") % 2 === 0, lit(null).cast("double")).otherwise(col("l_quantity"))
    Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_linenumber"),
        Metrics.truthyCoalesce(c1, c2, col("l_tax")).as("resolved"))
      .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_suppkey"), col("l_partkey"), col("l_quantity"), col("l_extendedprice"))
  }

  /** Ordered alias probe, first present wins (`fetch_data.py:20-27`). */
  private def aliasFirstMatch(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d).select(col("event_id"),
      Metrics.aliasFirstMatch(
        when(col("event_type") === "purchase", col("value")),
        when(col("event_type") === "click", col("value")),
        when(col("event_type") === "view", col("value"))).as("matched"))
      .orderBy("event_id")

  /** First alias with a strictly positive value; present-but-negative is
    * skipped (`fetch_data.py:211-216`). */
  private def firstPositive(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d).select(col("event_id"),
      Metrics.firstPositive(col("value") - 100, col("value") - 50, col("value") - 10)
        .as("first_pos"))
      .orderBy("event_id")

  /** Ticker normalization `.` -> `-` (`fetch_data.py:130`). */
  private def tickerNormalize(s: SparkSession, d: String): DataFrame =
    Tables.part(s, d).select(col("p_partkey"),
      Metrics.normalizeTicker(concat(col("p_brand"), lit("."), col("p_type"))).as("norm"))
      .orderBy("p_partkey")

  /** Ordered first-match-wins substring classifier (`fetch_data.py:53-66`
    * shape; the literal sector rules live in [[Metrics.classifySector]] and
    * are golden-tested — this binding uses testdata vocabulary). */
  private def classifierCase(s: SparkSession, d: String): DataFrame = {
    val name = col("p_name"); val ptype = col("p_type")
    Tables.part(s, d).select(col("p_partkey"), name, ptype,
      when(name.contains("widget") || ptype.contains("SMALL"), "Widget")
        .when(name.contains("bolt") || ptype.contains("PROMO"), "Fastener")
        .when(name.contains("gear"), "Drive")
        .when(ptype.contains("ECONOMY") || ptype.contains("STANDARD"), "Commodity")
        .otherwise("General").as("class"))
      .orderBy("p_partkey")
  }

  /** Growth clamp with sector config + cyclical/mega-cap rules + banker's
    * rounding (`fetch_data.py:68-108`), config via broadcast dim join. */
  private def clampGrowth(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d)
    c.join(Dims.segmentConfigDF(s), col("c_mktsegment") === col("seg"))
      .select(col("c_custkey"), col("c_mktsegment"),
        Metrics.clampGrowth(col("c_acctbal") / 97, col("ming"), col("maxg"),
          col("cyc"), col("c_custkey") * 1e10).as("growth"))
      .orderBy("c_custkey")
  }

  /** Beta winsorization: null default, sector floor, EXCLUSIVE size tiers,
    * global cap, banker's rounding (`fetch_data.py:110-124`). */
  private def winsorizeBeta(s: SparkSession, d: String): DataFrame = {
    val raw = when(col("c_custkey") % 10 === 0, lit(null).cast("double"))
      .otherwise((col("c_acctbal") - 5000) / 1997)
    val sector = when(col("c_mktsegment").isin("BUILDING", "AUTOMOBILE"), "SaaS")
      .otherwise("General")
    Tables.customer(s, d).select(col("c_custkey"),
      Metrics.winsorizeBeta(raw, sector, col("c_custkey") * 2e10).as("beta"))
      .orderBy("c_custkey")
  }

  /** FX division + abs on reported-negative flows (`fetch_data.py:180-189,
    * 229-231`). */
  private def fxNormalize(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d).select(col("l_orderkey"), col("l_linenumber"),
      bround(abs(-col("l_extendedprice")) / (lit(1.0) + col("l_tax")), 2).as("usd"),
      (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("net"))
      .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_suppkey"), col("l_partkey"), col("l_quantity"), col("l_extendedprice"))

  /** Percent scaling with truthiness default (`fetch_data.py:240-243`). */
  private def pctScale(s: SparkSession, d: String): DataFrame = {
    val v = when(col("value") < 20, 0.0).otherwise(col("value"))
    Tables.events(s, d).select(col("event_id"),
      bround(Metrics.pctScale(v), 2).as("pct"))
      .orderBy("event_id")
  }

  /** Banker's rounding (`round()` at `fetch_data.py:108,124,265,268` is
    * half-to-even): `bround`, exercised on exact .5/.125 ties. */
  private def roundBanker(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d).select(col("l_orderkey"), col("l_linenumber"),
      bround(col("l_quantity") / 2.0, 0).as("half_tie"),
      bround(col("l_quantity") / 8.0, 2).as("eighth_tie"),
      bround(col("l_extendedprice") / 7.0, 2).as("free"))
      .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_suppkey"), col("l_partkey"), col("l_quantity"), col("l_extendedprice"))

  /** Book-value fallback when the balance-sheet figure is 0/absent
    * (`fetch_data.py:226-227`). */
  private def bookValueFallback(s: SparkSession, d: String): DataFrame = {
    val bv = when(col("p_partkey") % 5 === 0, 0.0).otherwise(col("p_retailprice"))
    Tables.part(s, d).select(col("p_partkey"),
      Metrics.bookValueFallback(bv, col("p_size").cast("double"),
        col("p_partkey") + 1).as("book_value"))
      .orderBy("p_partkey")
  }

  /** Liquidity = alias-resolved cash + first-positive investments
    * (`fetch_data.py:207-217`). */
  private def addLiquidity(s: SparkSession, d: String): DataFrame = {
    val cash = Metrics.firstPositive(
      when(col("p_size") > 25, col("p_retailprice")),
      when(col("p_size") > 10, col("p_retailprice") * 0.5))
    val invest = Metrics.firstPositive(
      col("p_retailprice") - 950, col("p_retailprice") - 920)
    Tables.part(s, d).select(col("p_partkey"),
      bround(cash + invest, 2).as("total_liquidity"))
      .orderBy("p_partkey")
  }

  /** Morton z-value of two small non-negative dimensions through the
    * native codegen expression ([[graft.functions.ZOrderValue]]). The
    * 16-bit domain (p_size ≤ 50, p_partkey%1000) keeps the oracle's
    * arithmetic bit-interleave inside safe BIGINT shifts; full 32-bit
    * behavior is spec-tested against the reference loop in
    * ZOrderValueSpec. */
  private def zorderValue(s: SparkSession, d: String): DataFrame = {
    Tables.part(s, d).select(col("p_partkey"),
        graft.functions.VectorFunctions.zorder(
          col("p_size"), pmod(col("p_partkey"), lit(1000)).cast("int")).as("zval"))
      .orderBy("p_partkey")
  }

  /** Deterministic surrogate keys [N] — the dimensional-load primitive:
    * a stable 60-bit key from the md5 of the natural key, so any
    * executor (or engine) derives the SAME surrogate with no sequence,
    * no coordination, and idempotent reloads. 15 hex chars keep the
    * value positive in an int64; ExprsSpec audits collision-freedom on
    * the customer dimension. */
  private def surrogateKey(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .selectExpr("c_custkey",
        "graft_hex_long(md5(concat('cust:', cast(c_custkey as string)))," +
          " 1, 15) as sk")
      .orderBy("c_custkey")

  private val surrogateKeyOracle = {
    val poly = (0 until 15).map { i =>
      s"(strpos('0123456789abcdef', substr(hx, ${i + 1}, 1)) - 1)" +
        s" * ${1L << (4 * (14 - i))}"
    }.mkString("(", "\n      + ", ")")
    s"""WITH h AS (
       |  SELECT c_custkey,
       |         md5('cust:' || CAST(c_custkey AS VARCHAR)) AS hx
       |  FROM customer)
       |SELECT c_custkey, $poly AS sk
       |FROM h ORDER BY c_custkey""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "expr_surrogate_key" -> surrogateKey,
    "expr_zorder_value" -> zorderValue,
    "proj_snapshot" -> projSnapshot,
    "filter_positive" -> filterPositive,
    "expr_coalesce_chain" -> coalesceChain,
    "expr_alias_first_match" -> aliasFirstMatch,
    "expr_first_positive" -> firstPositive,
    "expr_ticker_normalize" -> tickerNormalize,
    "pred_classifier_case" -> classifierCase,
    "expr_clamp_growth" -> clampGrowth,
    "expr_winsorize_beta" -> winsorizeBeta,
    "expr_fx_normalize" -> fxNormalize,
    "expr_pct_scale" -> pctScale,
    "expr_round_banker" -> roundBanker,
    "expr_book_value_fallback" -> bookValueFallback,
    "expr_add_liquidity" -> addLiquidity)

  val oracles: Map[String, String] = Map(
    "expr_surrogate_key" -> surrogateKeyOracle,
    // arithmetic Morton interleave: bit i of x -> bit 2i, bit i of y ->
    // bit 2i+1; 16 terms cover the 16-bit demo domain (max shift 31)
    "expr_zorder_value" ->
      """WITH b AS (
        |  SELECT p_partkey, p_size AS x, p_partkey % 1000 AS y FROM part)
        |SELECT b.p_partkey,
        |       CAST(sum(
        |         ((b.x >> t.i) & 1) * (1::BIGINT << (2 * t.i)) +
        |         ((b.y >> t.i) & 1) * (1::BIGINT << (2 * t.i + 1))
        |       ) AS BIGINT) AS zval
        |FROM b CROSS JOIN generate_series(0, 15) t(i)
        |GROUP BY b.p_partkey
        |ORDER BY b.p_partkey""".stripMargin,
    "proj_snapshot" ->
      """SELECT 'L-' || l_orderkey || '-' || l_linenumber AS ticker,
        |       l_extendedprice AS price,
        |       round_even(l_extendedprice * l_quantity, 2) AS market_cap,
        |       l_extendedprice * (1 - l_discount) AS revenue_ttm,
        |       l_extendedprice * (1 - l_discount) * (1 - l_tax) - 100.0 AS net_income_ttm,
        |       CAST(l_quantity AS BIGINT) AS shares_outstanding,
        |       'USD' AS currency_code,
        |       '2026-01-01T00:00:00Z' AS last_updated
        |FROM lineitem ORDER BY l_orderkey, l_linenumber, l_suppkey, l_partkey, l_quantity, l_extendedprice""".stripMargin,
    "filter_positive" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice, l_discount
        |FROM lineitem
        |WHERE l_extendedprice IS NOT NULL AND l_extendedprice > 0
        |  AND l_discount BETWEEN 0.01 AND 0.06
        |ORDER BY l_orderkey, l_linenumber, l_suppkey, l_partkey, l_quantity, l_extendedprice""".stripMargin,
    "expr_coalesce_chain" ->
      """SELECT l_orderkey, l_linenumber,
        |       coalesce(
        |         nullif(CASE WHEN l_linenumber % 3 = 0 THEN 0.0 ELSE l_extendedprice END, 0),
        |         nullif(CASE WHEN l_linenumber % 2 = 0 THEN NULL ELSE l_quantity END, 0),
        |         l_tax) AS resolved
        |FROM lineitem ORDER BY l_orderkey, l_linenumber, l_suppkey, l_partkey, l_quantity, l_extendedprice""".stripMargin,
    "expr_alias_first_match" ->
      """SELECT event_id,
        |       coalesce(CASE WHEN event_type = 'purchase' THEN value END,
        |                CASE WHEN event_type = 'click' THEN value END,
        |                CASE WHEN event_type = 'view' THEN value END) AS matched
        |FROM events ORDER BY event_id""".stripMargin,
    "expr_first_positive" ->
      """SELECT event_id,
        |       coalesce(CASE WHEN value - 100 > 0 THEN value - 100 END,
        |                CASE WHEN value - 50 > 0 THEN value - 50 END,
        |                CASE WHEN value - 10 > 0 THEN value - 10 END,
        |                0.0) AS first_pos
        |FROM events ORDER BY event_id""".stripMargin,
    "expr_ticker_normalize" ->
      """SELECT p_partkey, translate(p_brand || '.' || p_type, '.', '-') AS norm
        |FROM part ORDER BY p_partkey""".stripMargin,
    "pred_classifier_case" ->
      """SELECT p_partkey, p_name, p_type,
        |  CASE WHEN p_name LIKE '%widget%' OR p_type LIKE '%SMALL%' THEN 'Widget'
        |       WHEN p_name LIKE '%bolt%' OR p_type LIKE '%PROMO%' THEN 'Fastener'
        |       WHEN p_name LIKE '%gear%' THEN 'Drive'
        |       WHEN p_type LIKE '%ECONOMY%' OR p_type LIKE '%STANDARD%' THEN 'Commodity'
        |       ELSE 'General' END AS class
        |FROM part ORDER BY p_partkey""".stripMargin,
    "expr_clamp_growth" ->
      ("WITH " + Dims.segmentConfigSql + """,
        |j AS (
        |  SELECT c_custkey, c_mktsegment, c_acctbal / 97 AS implied,
        |         ming, maxg, cyc, c_custkey * 1e10 AS mcap
        |  FROM customer JOIN cfg ON c_mktsegment = seg
        |), cl AS (
        |  SELECT c_custkey, c_mktsegment, mcap,
        |         CASE WHEN implied < ming THEN (CASE WHEN cyc THEN 3.0 ELSE ming END)
        |              WHEN implied > maxg THEN maxg
        |              ELSE implied END AS clamped
        |  FROM j
        |)
        |SELECT c_custkey, c_mktsegment,
        |       round_even(CASE WHEN mcap > 5e11 AND clamped > 30 THEN 30.0
        |                       ELSE clamped END, 2) AS growth
        |FROM cl ORDER BY c_custkey""").stripMargin,
    "expr_winsorize_beta" ->
      """WITH t AS (
        |  SELECT c_custkey,
        |         CASE WHEN c_custkey % 10 = 0 THEN NULL
        |              ELSE (c_acctbal - 5000) / 1997 END AS raw,
        |         CASE WHEN c_mktsegment IN ('BUILDING', 'AUTOMOBILE') THEN 'SaaS'
        |              ELSE 'General' END AS sector,
        |         c_custkey * 2e10 AS mcap
        |  FROM customer
        |)
        |SELECT c_custkey,
        |  CASE WHEN raw IS NULL THEN 1.0
        |       WHEN raw < 0.5 THEN (CASE WHEN sector IN ('SaaS', 'Semiconductor', 'BioTech') THEN 1.2 ELSE 0.8 END)
        |       WHEN mcap > 1e12 AND raw > 1.35 THEN 1.35
        |       WHEN mcap <= 1e12 AND mcap > 2e11 AND raw > 1.6 THEN 1.6
        |       WHEN raw > 2.5 THEN 2.5
        |       ELSE round_even(raw, 2) END AS beta
        |FROM t ORDER BY c_custkey""".stripMargin,
    "expr_fx_normalize" ->
      """SELECT l_orderkey, l_linenumber,
        |       round_even(abs(-l_extendedprice) / (1.0 + l_tax), 2) AS usd,
        |       l_extendedprice * (1 - l_discount) AS net
        |FROM lineitem ORDER BY l_orderkey, l_linenumber, l_suppkey, l_partkey, l_quantity, l_extendedprice""".stripMargin,
    "expr_pct_scale" ->
      """SELECT event_id,
        |       round_even(CASE WHEN (CASE WHEN value < 20 THEN 0.0 ELSE value END) = 0
        |                       OR value IS NULL THEN 0.0
        |                       ELSE (CASE WHEN value < 20 THEN 0.0 ELSE value END) * 100 END, 2) AS pct
        |FROM events ORDER BY event_id""".stripMargin,
    "expr_round_banker" ->
      """SELECT l_orderkey, l_linenumber,
        |       round_even(l_quantity / 2.0, 0) AS half_tie,
        |       round_even(l_quantity / 8.0, 2) AS eighth_tie,
        |       round_even(l_extendedprice / 7.0, 2) AS free
        |FROM lineitem ORDER BY l_orderkey, l_linenumber, l_suppkey, l_partkey, l_quantity, l_extendedprice""".stripMargin,
    "expr_book_value_fallback" ->
      """SELECT p_partkey,
        |  CASE WHEN (CASE WHEN p_partkey % 5 = 0 THEN 0.0 ELSE p_retailprice END) = 0
        |       THEN CAST(p_size AS DOUBLE) * (p_partkey + 1)
        |       ELSE p_retailprice END AS book_value
        |FROM part ORDER BY p_partkey""".stripMargin,
    "expr_add_liquidity" ->
      """SELECT p_partkey,
        |  round_even(
        |    coalesce(CASE WHEN p_size > 25 AND p_retailprice > 0 THEN p_retailprice END,
        |             CASE WHEN p_size > 10 AND p_retailprice * 0.5 > 0 THEN p_retailprice * 0.5 END,
        |             0.0)
        |    + coalesce(CASE WHEN p_retailprice - 950 > 0 THEN p_retailprice - 950 END,
        |               CASE WHEN p_retailprice - 920 > 0 THEN p_retailprice - 920 END,
        |               0.0), 2) AS total_liquidity
        |FROM part ORDER BY p_partkey""".stripMargin)
}
