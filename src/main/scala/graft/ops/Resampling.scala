package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Hash-coin resampling [N]: the Poisson bootstrap, a randomization
  * test, and a discrete differential-privacy release — the three
  * "randomized" procedures a warehouse actually ships, made
  * cross-engine deterministic with the md5-coin discipline
  * (`text_split_assign` precedent): every draw is an EXACT integer
  * inverse-CDF table lookup on md5 bits — no RNG state, no
  * transcendentals, no floats until the final assembly — so replicas
  * agree bit-for-bit across engines, retries, AND partitionings (the
  * property that matters on a 1000-executor cluster: a task retry must
  * not change the sample).
  *
  * Scale shape: each key is one scan of fact × B-replicate explode
  * (map-side, no shuffle added by the explode) reducing straight into
  * a (group × replicate)-sized hash agg; everything after is
  * domain-sized.
  */
object Resampling extends graft.QueryModule {

  /** Poisson(1) CDF boundaries scaled to 2^32 — exact integer literals
    * shared with the oracle (floor(CDF(k) * 2^32)). A uniform 32-bit
    * md5 draw below boundary k maps to weight k; the >CDF(6) tail
    * collapses to 7 (mass 8e-5, the standard truncation). */
  private val poissonCdf32 =
    Seq(1580030168L, 3160060337L, 3950075421L, 4213413783L,
      4279248373L, 4292415291L, 4294609777L)

  private def poissonCase(u: String): String =
    poissonCdf32.zipWithIndex
      .map { case (t, k) => s"WHEN $u < $t THEN $k" }
      .mkString("CASE ", " ", " ELSE 7 END")

  /** Geometric(1/2) CDF boundaries (1 - 2^-k scaled to 2^32) for the
    * two-sided-geometric DP mechanism; tail capped at 8 (mass 0.4%). */
  private val geomCdf32 = (1 to 7).map(k => (1L << 32) - (1L << (32 - k)))

  private def geomCase(u: String): String =
    geomCdf32.zipWithIndex
      .map { case (t, k) => s"WHEN $u < $t THEN ${k + 1}" }
      .mkString("CASE ", " ", " ELSE 8 END")

  /** Spark: uniform 32-bit draw from md5 hex chars [lo, lo+8).
    * r14: `graft_hex_long` (codegen byte-window parse, HexToLongSpec
    * pins equality with the previous conv form), registered per session
    * by [[graft.SparkEntry.queries]]. */
  private def sparkHex8(key: String, lo: Int): String =
    s"graft_hex_long(md5($key), $lo, 8)"

  /** DuckDB has no conv(hex, 16, 10): decode 8 hex chars with the
    * strpos polynomial (the md5-LSH oracle-twin trick). */
  private def duckHex8(key: String, lo: Int): String =
    (0 until 8).map { i =>
      val f = 1L << (4 * (7 - i))
      s"(strpos('0123456789abcdef', substr(md5($key), ${lo + i}, 1)) - 1) * $f"
    }.mkString("(", "\n      + ", ")")

  // ---- Poisson bootstrap ---------------------------------------------

  /** Bootstrap SE + percentile CI of the mean order value per priority,
    * via the POISSON bootstrap (Chamandy et al., the resampling scheme
    * that distributes: the classic multinomial bootstrap needs global
    * coordination per replicate; Poisson(1) weights are independent
    * per (row, replicate), so the whole B-replicate ensemble is one
    * stateless map over the data). B=64; replicate means are pinned at
    * 6dp dollars (mean ~1.5e5 $, ULP ~3e-11 — grid safely coarser)
    * and reduced as exact decimals; the CI bounds are rank SELECTIONS
    * (2nd / 63rd order statistic), never interpolations. */
  private val bootB = 64

  private def bootstrap(s: SparkSession, d: String): DataFrame = {
    // materialize the 32-bit draw ONCE per (row, replicate): the
    // 7-branch inverse-CDF CASE would otherwise re-evaluate the md5
    // under every branch (measured 9.2 s -> ~2 s at sf0.1)
    // the B-fold explode multiplies rows AFTER the scan, so spread the
    // narrow input across the cluster first — without this the whole
    // replicate ensemble inherits the source file's partition count
    // (one small file => one core does 64x the work)
    // FIXED-N repartition (r14, guide §2.5): the keyed no-N form is
    // REPARTITION_BY_COL, which AQE's partition coalescing is allowed
    // to shrink — and DOES, because the coalesce decision sees the
    // PRE-explode bytes (150k narrow rows ≈ 2 MB → 1 partition), so the
    // whole B-fold ensemble ran on ONE core (probed: the 19.2M-digest
    // stage 9.7 s -> 0.7 s once pinned). defaultParallelism = total
    // cluster cores — scale-adaptive, not a local[32] constant; AQE
    // cannot coalesce REPARTITION_BY_NUM.
    // QUADRANT draws (r14): md5 yields 128 bits = FOUR independent
    // 32-bit words, so one digest feeds replicates 4q..4q+3 (word j =
    // hex chars 8j+1..8j+8) — the md5 count in the replicate-ensemble
    // map drops B -> B/4. The oracle derives the identical words from
    // the identical digests, so the hash gate still certifies every
    // draw.
    // r14 OPTIMIZATION (guide §4): the quadrant unpack originally rode
    // `explode(transform(sequence(0,3), j -> struct(..., conv(...))))`
    // — a higher-order lambda, which is CodegenFallback, evaluating an
    // INTERPRETED conv 4x per digest row. Replaced by an explode of a
    // plain codegen array(struct(b, graft_hex_long(h, ...))) with
    // literal hex windows: CreateArray/CreateNamedStruct stay inside
    // whole-stage codegen and graft_hex_long is a no-allocation
    // byte-window parse (HexToLongSpec pins value equality with conv).
    // Probe A/B at sf0.1: the unpack stage 5.3 s -> ~2 s; same rows,
    // same draws, hash-identical output.
    val base = Tables.orders(s, d)
      .repartition(s.sparkContext.defaultParallelism, col("o_orderkey"))
      .select(col("o_orderkey"), col("o_orderpriority").as("g"),
        expr("cast(cast(o_totalprice as decimal(12,2)) * 100 as bigint)").as("v"),
        explode(sequence(lit(0), lit(bootB / 4 - 1))).as("q"))
      .select(col("g"), col("v"), col("q"),
        expr("md5(concat(cast(o_orderkey as string), '#', " +
          "cast(q as string), ':boot'))").as("h"))
      .select(col("g"), col("v"),
        explode(array((0 until 4).map(j =>
          struct((col("q") * 4 + lit(j)).as("b"),
            graft.functions.VectorFunctions.hex_long(col("h"), 1 + j * 8, 8)
              .as("u"))): _*)).as("e"))
      .select(col("g"), col("e.b").as("b"), col("v"), col("e.u").as("u"))
      .select(col("g"), col("b"), col("v"),
        expr(s"${poissonCase("u")}").cast("long").as("w"))
    val reps = base.groupBy(col("g"), col("b"))
      .agg(sum(col("w") * col("v")).as("sv"), sum(col("w")).as("sw"))
      .select(col("g"), col("b"),
        bround(col("sv").cast("double") / col("sw").cast("double") /
          lit(100.0), 6).cast("decimal(18,6)").as("m"))
    val ranked = reps.withColumn("rn", row_number().over(
      org.apache.spark.sql.expressions.Window
        .partitionBy(col("g")).orderBy(col("m"), col("b"))))
    ranked.groupBy(col("g"))
      .agg(count(lit(1)).as("b_cnt"),
        sum(col("m").cast("decimal(28,6)")).as("sm"),
        sum(col("m") * col("m")).as("sm2"),
        max(when(col("rn") === 2, col("m"))).as("lo"),
        max(when(col("rn") === bootB - 1, col("m"))).as("hi"))
      .selectExpr("g", "cast(b_cnt as bigint) as b_cnt",
        "cast(sm as double) / cast(b_cnt as double) as boot_mean",
        // sm2's decimal(37,12) unscaled value crosses 2^53, so its
        // double cast is 1-ULP engine-dependent (the eval_brier
        // lesson); the cancellation keeps the se drift < 1e-8, so the
        // 6dp pin (se ~ 10^2..10^3, grid >> drift >> ULP) restores
        // exact equality
        "bround(sqrt((cast(sm2 as double) - cast(sm as double) * cast(sm as double)" +
          " / cast(b_cnt as double)) / cast(b_cnt - 1 as double)), 6) as boot_se",
        "cast(lo as double) as ci_lo", "cast(hi as double) as ci_hi")
      .orderBy("g")
  }

  private def bootstrapOracle: String = {
    // the quadrant-word polynomial: word j of the materialized digest h
    val uFromH = (0 until 8).map { i =>
      val f = 1L << (4 * (7 - i))
      s"(strpos('0123456789abcdef', substr(h, 1 + r.j * 8 + $i, 1)) - 1) * $f"
    }.mkString("(", "\n      + ", ")")
    s"""WITH qd AS MATERIALIZED (
       |  SELECT o_orderpriority AS g, t.q,
       |         CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS v,
       |         md5(CAST(o_orderkey AS VARCHAR) || '#' ||
       |             CAST(t.q AS VARCHAR) || ':boot') AS h
       |  FROM orders CROSS JOIN range(${bootB / 4}) t(q)),
       |draws AS (
       |  SELECT g, q * 4 + r.j AS b, v,
       |         $uFromH AS u
       |  FROM qd CROSS JOIN range(4) r(j)),
       |base AS (
       |  SELECT g, b, v, ${poissonCase("u")} AS w FROM draws),
       |reps AS (
       |  SELECT g, b,
       |         CAST(round_even(CAST(sum(w * v) AS DOUBLE)
       |              / CAST(sum(w) AS DOUBLE) / 100.0, 6)
       |              AS DECIMAL(18,6)) AS m
       |  FROM base GROUP BY g, b),
       |ranked AS (
       |  SELECT g, m, row_number() OVER (PARTITION BY g ORDER BY m, b) AS rn
       |  FROM reps),
       |a AS (
       |  SELECT g, count(*) AS b_cnt,
       |         sum(CAST(m AS DECIMAL(28,6))) AS sm,
       |         sum(CAST(m AS DECIMAL(19,6)) * m) AS sm2,
       |         max(CASE WHEN rn = 2 THEN m END) AS lo,
       |         max(CASE WHEN rn = ${bootB - 1} THEN m END) AS hi
       |  FROM ranked GROUP BY g)
       |SELECT g, CAST(b_cnt AS BIGINT) AS b_cnt,
       |       CAST(sm AS DOUBLE) / CAST(b_cnt AS DOUBLE) AS boot_mean,
       |       round_even(sqrt((CAST(sm2 AS DOUBLE) - CAST(sm AS DOUBLE) * CAST(sm AS DOUBLE)
       |             / CAST(b_cnt AS DOUBLE)) / CAST(b_cnt - 1 AS DOUBLE)), 6) AS boot_se,
       |       CAST(lo AS DOUBLE) AS ci_lo, CAST(hi AS DOUBLE) AS ci_hi
       |FROM a ORDER BY g""".stripMargin
  }

  // ---- randomization test --------------------------------------------

  /** Randomization (coin-flip) test for the difference of mean $1000
    * order-value bins between fulfilled and open orders: B=128
    * re-labelings from per-(row, replicate) md5 coins, p-value =
    * (1 + #{|diff_b| ≥ |observed|}) / (B + 1). The coin flips each
    * row's group with p = 1/2 rather than permuting within fixed group
    * sizes — the standard scalable randomization-test variant (group
    * sizes are then Binomial, which the test's null allows). Replicate
    * diffs are exact-sum ratios evaluated identically on both engines,
    * so the |diff| ≥ |obs| comparisons agree exactly. */
  private val randB = 128

  private def randomization(s: SparkSession, d: String): DataFrame = {
    val base = Tables.orders(s, d)
      .select(col("o_orderkey"),
        expr("case when o_orderstatus = 'F' then 1 else 0 end").as("grp"),
        expr("(cast(cast(o_totalprice as decimal(12,2)) * 100 as bigint)) div 100000").as("v"))
    val u = sparkHex8(s"concat(cast(o_orderkey as string), '#', cast(b as string), ':perm')", 1)
    val obs = base.agg(
      sum(when(col("grp") === 1, col("v"))).as("s1"),
      sum(when(col("grp") === 1, 1L).otherwise(0L)).as("n1"),
      sum(when(col("grp") === 0, col("v"))).as("s0"),
      sum(when(col("grp") === 0, 1L).otherwise(0L)).as("n0"))
      .selectExpr("cast(n1 + n0 as bigint) as n",
        "cast(s1 as double) / cast(n1 as double)" +
          " - cast(s0 as double) / cast(n0 as double) as obs_diff")
    val reps = base
      // parallelize the B-fold explode; FIXED-N (r14): see bootstrap
      .repartition(s.sparkContext.defaultParallelism, col("o_orderkey"))
      .select(col("v"), explode(sequence(lit(0), lit(randB - 1))).as("b"),
        col("o_orderkey"))
      .select(col("b"), col("v"), expr(u).as("u"))
      .select(col("b"), col("v"),
        expr(s"case when u < ${1L << 31} then 1 else 0 end").as("pg"))
      .groupBy(col("b"))
      .agg(sum(when(col("pg") === 1, col("v"))).as("s1"),
        sum(when(col("pg") === 1, 1L).otherwise(0L)).as("n1"),
        sum(when(col("pg") === 0, col("v"))).as("s0"),
        sum(when(col("pg") === 0, 1L).otherwise(0L)).as("n0"))
      .selectExpr("b",
        "cast(s1 as double) / cast(n1 as double)" +
          " - cast(s0 as double) / cast(n0 as double) as diff")
    reps.crossJoin(broadcast(obs))
      .groupBy(col("n"), col("obs_diff"))
      .agg(count(lit(1)).as("b_cnt"),
        sum(when(abs(col("diff")) >= abs(col("obs_diff")), 1L)
          .otherwise(0L)).as("n_ge"))
      .selectExpr("n", "obs_diff", "cast(b_cnt as bigint) as b_cnt",
        "cast(n_ge as bigint) as n_ge",
        "cast(1 + n_ge as double) / cast(b_cnt + 1 as double) as p_value")
  }

  private def randomizationOracle: String = {
    val u = duckHex8("CAST(o_orderkey AS VARCHAR) || '#' || CAST(b AS VARCHAR) || ':perm'", 1)
    s"""WITH base AS (
       |  SELECT o_orderkey,
       |         CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS grp,
       |         CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)
       |           // 100000 AS v
       |  FROM orders),
       |obs AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n,
       |         CAST(sum(CASE WHEN grp = 1 THEN v END) AS DOUBLE)
       |           / CAST(sum(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS DOUBLE)
       |         - CAST(sum(CASE WHEN grp = 0 THEN v END) AS DOUBLE)
       |           / CAST(sum(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS DOUBLE)
       |           AS obs_diff
       |  FROM base),
       |reps AS (
       |  SELECT t.b,
       |         CAST(sum(CASE WHEN $u < ${1L << 31} THEN v END) AS DOUBLE)
       |           / CAST(sum(CASE WHEN $u < ${1L << 31} THEN 1 ELSE 0 END) AS DOUBLE)
       |         - CAST(sum(CASE WHEN $u >= ${1L << 31} THEN v END) AS DOUBLE)
       |           / CAST(sum(CASE WHEN $u >= ${1L << 31} THEN 1 ELSE 0 END) AS DOUBLE)
       |           AS diff
       |  FROM base CROSS JOIN range($randB) t(b)
       |  GROUP BY t.b)
       |SELECT o.n, o.obs_diff, CAST(count(*) AS BIGINT) AS b_cnt,
       |       CAST(sum(CASE WHEN abs(diff) >= abs(obs_diff) THEN 1 ELSE 0 END)
       |            AS BIGINT) AS n_ge,
       |       CAST(1 + sum(CASE WHEN abs(diff) >= abs(obs_diff) THEN 1 ELSE 0 END)
       |            AS DOUBLE) / CAST(count(*) + 1 AS DOUBLE) AS p_value
       |FROM reps CROSS JOIN obs o
       |GROUP BY o.n, o.obs_diff""".stripMargin
  }

  // ---- discrete DP release -------------------------------------------

  /** Differentially-private release of per-event-type daily-average
    * counts via the DISCRETE two-sided-geometric mechanism (Ghosh,
    * Roughgarden & Sundararajan's geometric mechanism — the
    * universally-optimal discrete analogue of Laplace at ε = ln 2 for
    * sensitivity-1 counts): noise K has P(0)=1/3, P(±k)=2^{-k}/3,
    * drawn from two md5 coins (sign trit via u mod 3, magnitude via
    * the exact dyadic geometric CDF). ln/exp never appear — every draw
    * is integer compares on md5 bits, so the released table is
    * reproducible bit-for-bit (the auditability DP deployments need),
    * at the tiny documented cost of the u-mod-3 bias (2^-32) and the
    * magnitude cap at 8 (mass 0.4%). */
  private def dpCounts(s: SparkSession, d: String): DataFrame = {
    val u = sparkHex8("concat(event_type, ':dp')", 1)
    val v = sparkHex8("concat(event_type, ':dp')", 9)
    val g = geomCase("uv")
    Tables.events(s, d)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("event_type"), col("n"),
        expr(s"$u % 3").as("trit"), expr(v).as("uv"))
      .select(col("event_type"), col("n"),
        expr(s"case when trit = 0 then 0 when trit = 1 then $g " +
          s"else -($g) end").cast("long").as("noise"))
      .selectExpr("event_type", "cast(n as bigint) as n", "noise",
        "n + noise as noisy_n",
        "cast(0.6931471805599453 as double) as epsilon")
      .orderBy("event_type")
  }

  private def dpCountsOracle: String = {
    val u = duckHex8("event_type || ':dp'", 1)
    val v = duckHex8("event_type || ':dp'", 9)
    val g = geomCase("uv")
    s"""WITH a AS (
       |  SELECT event_type, count(*) AS n FROM events GROUP BY 1),
       |c AS (
       |  SELECT event_type, n, $u % 3 AS trit, $v AS uv FROM a),
       |k AS (
       |  SELECT event_type, CAST(n AS BIGINT) AS n,
       |         CAST(CASE WHEN trit = 0 THEN 0
       |                   WHEN trit = 1 THEN $g
       |                   ELSE -($g) END AS BIGINT) AS noise
       |  FROM c)
       |SELECT event_type, n, noise, n + noise AS noisy_n,
       |       CAST(0.6931471805599453 AS DOUBLE) AS epsilon
       |FROM k ORDER BY event_type""".stripMargin
  }

  /** Bootstrap confidence interval on the ROC AUC [N] — the metric CI
    * every model report should carry: Poisson(1) md5-coin weights per
    * (order, replicate), per-replicate AUC via the `eval_auc` doubled-
    * rank identity over WEIGHTED bin counts (every rank sum stays an
    * exact integer per replicate — the resampled AUC needs no pinning
    * at all), then the 2nd/(B−1)th order statistics of the B = 64
    * replicate AUCs (the `stats_bootstrap` percentile convention,
    * ≈ a 97% interval). Scale shape: the B-fold explode is the only expansion, the
    * rank cumsum windows run per (replicate × score-bin) — bounded —
    * and the final selection ranks B rows. */
  private def aucCi(s: SparkSession, d: String): DataFrame = {
    val u = sparkHex8(
      s"concat(cast(o_orderkey as string), '#', cast(b as string), ':auc')",
      1)
    val base = Tables.orders(s, d)
      .repartition(s.sparkContext.defaultParallelism, col("o_orderkey"))
      .select(col("o_orderkey"),
        expr("cast(cast(o_totalprice as decimal(12,2)) * 100 as bigint)" +
          " div 100000").as("v"),
        (col("o_orderstatus") === "F").as("pos"),
        explode(sequence(lit(0), lit(bootB - 1))).as("b"))
      .select(col("b"), col("v"), col("pos"), expr(u).as("u"))
      .select(col("b"), col("v"), col("pos"),
        expr(s"${poissonCase("u")}").cast("long").as("w"))
    val cells = base.groupBy(col("b"), col("v"))
      .agg(sum(when(col("pos"), col("w")).otherwise(0L)).as("np"),
        sum(col("w")).as("n"))
      .filter(col("n") > 0)
    val wBefore = org.apache.spark.sql.expressions.Window
      .partitionBy(col("b")).orderBy(col("v"))
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding, -1)
    val aucs = cells
      .withColumn("before", coalesce(sum(col("n")).over(wBefore), lit(0L)))
      .withColumn("t", col("before") * 2 + col("n") + 1)
      .groupBy(col("b"))
      .agg(sum(col("np").cast("decimal(19,0)") *
          col("t").cast("decimal(19,0)")).as("s2"),
        sum(col("np")).as("npos"), sum(col("n") - col("np")).as("nneg"))
      .filter(col("npos") > 0 && col("nneg") > 0)
      .select(col("b"),
        ((col("s2") - col("npos").cast("decimal(19,0)") *
          (col("npos") + 1).cast("decimal(19,0)")).cast("double") /
          (lit(2.0) * col("npos").cast("double") *
            col("nneg").cast("double"))).as("auc"))
    val ranked = aucs.withColumn("rn", row_number().over(
      org.apache.spark.sql.expressions.Window
        .orderBy(col("auc"), col("b"))))
    ranked.agg(count(lit(1)).as("b_cnt"),
        max(when(col("rn") === 2, col("auc"))).as("ci_lo"),
        max(when(col("rn") === bootB - 1, col("auc"))).as("ci_hi"))
      .select(col("b_cnt"), col("ci_lo"), col("ci_hi"),
        (col("ci_hi") - col("ci_lo")).as("ci_width"))
  }

  private def aucCiOracle: String = {
    val u = duckHex8(
      "CAST(o_orderkey AS VARCHAR) || '#' || CAST(b AS VARCHAR) || ':auc'",
      1)
    s"""WITH draws AS (
       |  SELECT t.b,
       |         CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)
       |           // 100000 AS v,
       |         o_orderstatus = 'F' AS pos,
       |         $u AS u
       |  FROM orders CROSS JOIN range($bootB) t(b)),
       |wts AS (SELECT b, v, pos, ${poissonCase("u")} AS w FROM draws),
       |cells AS (
       |  SELECT b, v, sum(CASE WHEN pos THEN w ELSE 0 END) AS np,
       |         sum(w) AS n
       |  FROM wts GROUP BY 1, 2 HAVING sum(w) > 0),
       |ranked AS (
       |  SELECT b, np, n,
       |         2 * COALESCE(sum(n) OVER (PARTITION BY b ORDER BY v
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |           + n + 1 AS t
       |  FROM cells),
       |aucs AS (
       |  SELECT b,
       |         CAST(sum(CAST(np AS DECIMAL(19,0))
       |                  * CAST(t AS DECIMAL(19,0)))
       |              - CAST(sum(np) AS DECIMAL(19,0))
       |                * CAST(sum(np) + 1 AS DECIMAL(19,0)) AS DOUBLE)
       |           / (2.0 * CAST(sum(np) AS DOUBLE)
       |              * CAST(sum(n - np) AS DOUBLE)) AS auc
       |  FROM ranked GROUP BY b
       |  HAVING sum(np) > 0 AND sum(n - np) > 0),
       |rk AS (
       |  SELECT auc, row_number() OVER (ORDER BY auc, b) AS rn,
       |         count(*) OVER () AS b_cnt
       |  FROM aucs)
       |SELECT CAST(max(b_cnt) AS BIGINT) AS b_cnt,
       |       max(CASE WHEN rn = 2 THEN auc END) AS ci_lo,
       |       max(CASE WHEN rn = ${bootB - 1} THEN auc END) AS ci_hi,
       |       max(CASE WHEN rn = ${bootB - 1} THEN auc END)
       |         - max(CASE WHEN rn = 2 THEN auc END) AS ci_width
       |FROM rk""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "stats_bootstrap" -> bootstrap,
    "stats_randomization" -> randomization,
    "eval_auc_ci" -> aucCi,
    "quality_dp_counts" -> dpCounts)

  val oracles: Map[String, String] = Map(
    "stats_bootstrap" -> bootstrapOracle,
    "stats_randomization" -> randomizationOracle,
    "eval_auc_ci" -> aucCiOracle,
    "quality_dp_counts" -> dpCountsOracle)
}
