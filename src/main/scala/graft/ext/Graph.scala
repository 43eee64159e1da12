package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Ckpt.CutOps
import graft.Tables

/** Distributed graph profiling over the co-purchase graph (parts that
  * appear together in one order are connected) — the graph-shaped twin
  * of the near-dup pair graph that [[Dedup.connectedComponents]] walks.
  *
  * The interesting operator is triangle counting. The naive three-way
  * self-join explodes on high-degree vertices (a part in k orders with
  * m co-parts contributes m² wedge candidates); the standard fix
  * (Suri & Vassilvitskii, "Counting Triangles and the Curse of the Last
  * Reducer", WWW'11) ORIENTS each edge from its lower-(degree, id)
  * endpoint to its higher one. Every triangle then has exactly one
  * vertex with two outgoing oriented edges, and out-degrees are bounded
  * by O(sqrt(|E|)) on the skewed side — wedge generation becomes
  * near-linear instead of quadratic in the hot vertex's degree. At
  * 100 TB this is the difference between a runnable plan and one task
  * that never finishes; the oracle (a plain canonical a<b<c triangle
  * join — fine at oracle scale) proves the orientation loses nothing.
  *
  * Layout: one conf, `spark.sql.autoBroadcastJoinThreshold`, picks it
  * for the whole family. The rank fixpoints first try the driver-local
  * gate ([[DriverRounds.collectBounded]]); above it (or for every other
  * kernel) a non-negative threshold broadcasts the vertex domain, and a
  * negative one runs every vertex-domain join as a shuffle join over a
  * pre-partitioned edge list ([[edgePrep]]). Both layouts are
  * hash-identical (GraphSpec at 4 and 32 partitions).
  */
object Graph extends graft.QueryModule {

  /** Whether the vertex domain is broadcast: the layout decision of the
    * whole family, read off `spark.sql.autoBroadcastJoinThreshold` with
    * the same sign test as [[DriverRounds.collectBounded]]'s, so the
    * driver-local gate runs exactly when the vertex domain would be
    * broadcast. A negative threshold is Spark's "never broadcast", which
    * the explicit hints below obey too: the shuffle layout, for a vertex
    * domain past executor memory. */
  private def vertexBroadcast(s: SparkSession): Boolean =
    s.sessionState.conf.autoBroadcastJoinThreshold >= 0

  /** Broadcast hint only while the vertex domain is broadcast-safe. */
  private def maybeBroadcast(s: SparkSession, df: DataFrame): DataFrame =
    if (vertexBroadcast(s)) broadcast(df) else df

  /** The edge prep of the vertex-domain fixpoints: the symmetric edge
    * list `sym`, cut once. Broadcast mode ([[vertexBroadcast]]) ships the
    * |V|-row vertex table to it each round (localCheckpoint erases size
    * stats, so the auto-broadcast heuristic can't see how small that table
    * is — the rounds force it through [[maybeBroadcast]]). Shuffle mode (a
    * negative threshold) first hash-partitions the list on the join `key`
    * — localCheckpoint keeps that partitioning — so each round shuffles
    * only the vertex table to meet it and the |E|-row side never moves
    * again. */
  private def edgePrep(s: SparkSession, sym: DataFrame, key: String): DataFrame =
    if (vertexBroadcast(s)) sym.cut() else sym.repartition(col(key)).cut()

  /** Both directions of every canonical `a < b` edge, as (`from`, `to`). */
  private def bothWays(e: DataFrame, from: String, to: String): DataFrame =
    e.select(col("a").as(from), col("b").as(to))
      .unionAll(e.select(col("b").as(from), col("a").as(to)))

  /** Per-vertex degree (v, deg) of a canonical `a < b` edge list. */
  private def degrees(e: DataFrame): DataFrame =
    e.select(col("a").as("v")).unionAll(e.select(col("b").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("deg"))

  /** The edges of `e` whose endpoints both lie in `keep` (column `v`). */
  private def induced(s: SparkSession, e: DataFrame, keep: DataFrame): DataFrame =
    e.join(maybeBroadcast(s, keep.withColumnRenamed("v", "a")), Seq("a"),
        "left_semi")
      .join(maybeBroadcast(s, keep.withColumnRenamed("v", "b")), Seq("b"),
        "left_semi")

  /** One row `struct(a, b)` per ascending element pair a < b of the sorted
    * array column `arr`, generated row-locally with HOFs. */
  private def ascendingPairs(arr: String): Column =
    explode(expr(
      s"""flatten(transform($arr, (x, i) ->
         |  transform(slice($arr, i + 2, size($arr)),
         |            y -> struct(x AS a, y AS b))))""".stripMargin))

  /** Distinct undirected co-purchase edges, canonical as `a < b`.
    *
    * Built by grouping each order's part set and generating the i<j
    * pairs row-locally with HOFs — one shuffle to group, one to
    * distinct. (The self-join formulation shuffles the pair relation
    * twice more and re-reads the fact table; measured 2.5× slower at
    * sf0.1.) Per-order fan-out is quadratic in ORDER SIZE (bounded and
    * small — ≤7 lines in TPC-H), never in part popularity.
    *
    * MEMOIZED per (session, dir) as a checkpointed relation: all seven
    * graph keys walk the same edges, and rebuilding them was ~2 s ×
    * keys at sf0.1 — the shared-lineage equivalent of a warehouse's
    * materialized edge table. Stopped sessions are evicted on each
    * lookup (the [[graft.ops.Scans]] isoSessions discipline); the edge
    * set is a pure function of the input dir, so reuse is exact. */
  private val edgeCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()

  private[ext] def coPurchaseEdges(s: SparkSession, d: String): DataFrame = {
    edgeCache.keySet.removeIf(k => k._1.sparkContext.isStopped)
    edgeCache.computeIfAbsent((s, d), _ =>
      Tables.lineitem(s, d)
        .groupBy(col("l_orderkey"))
        .agg(sort_array(collect_set(col("l_partkey"))).as("ps"))
        .select(ascendingPairs("ps").as("e"))
        .select(col("e.a").as("a"), col("e.b").as("b"))
        .distinct()
        .cut())
  }

  /** Triangle count + edge/vertex tallies in one row. */
  private def triangleCount(s: SparkSession, d: String): DataFrame = {
    // the edge set feeds four consumers (degrees, orientation, closure,
    // count) — materialize it once instead of recomputing the grouped
    // pair expansion per consumer
    val e = coPurchaseEdges(s, d)
    // cut() (r15, guide §1.2): deg feeds THREE consumers (the two
    // orientation lookups and the n_vertices tally) and adj feeds two
    // (the nu/nv lookups) — each broadcast build re-ran the |E|-scale
    // aggregation (and, for adj, the two orientation joins above it)
    // from the checkpointed edges; one |V|-row materialization apiece
    // replaces those recomputes with block reads
    val deg = degrees(e).cut()
    // orient each edge low→high by (deg, id): src gets the smaller key.
    // deg has one row per PART (bounded by the part dim, not the fact
    // table) — broadcast both lookups while the conf allows it; with
    // a negative threshold these are plain shuffled equi-joins and the
    // plan survives an unbounded vertex domain
    val aFirst = struct(col("da"), col("a")) < struct(col("db"), col("b"))
    val oriented = e
      .join(maybeBroadcast(s, deg.withColumnRenamed("v", "a")
        .withColumnRenamed("deg", "da")), "a")
      .join(maybeBroadcast(s, deg.withColumnRenamed("v", "b")
        .withColumnRenamed("deg", "db")), "b")
      .select(when(aFirst, col("a")).otherwise(col("b")).as("src"),
        when(aFirst, col("b")).otherwise(col("a")).as("dst"))
    // Count per-EDGE instead of per-wedge: for each oriented edge u→v,
    // triangles through it = |N⁺(u) ∩ N⁺(v)| over sorted out-adjacency
    // arrays, evaluated by the codegen two-pointer SortedIntersectCount.
    // The wedge formulation materializes Σ C(outdeg,2) rows (41 M at
    // sf0.1 — measured 7.3 s); this streams the SAME arithmetic through
    // 1.2 M edge rows with two broadcast adjacency lookups (0.9 s). The
    // adjacency relation is one row per VERTEX (part-dimension-bounded,
    // ~10 MB); with a negative threshold both lookups run as shuffled
    // equi-joins on src/dst — the per-edge identity is unchanged.
    val adj = oriented.groupBy(col("src"))
      .agg(sort_array(collect_list(col("dst"))).as("nbrs"))
      .cut()
    oriented
      .join(maybeBroadcast(s, adj.select(col("src"), col("nbrs").as("nu"))),
        "src")
      .join(maybeBroadcast(s,
        adj.select(col("src").as("dst"), col("nbrs").as("nv"))), "dst")
      .select(call_function("graft_intersect_count",
        col("nu"), col("nv")).as("c"))
      // coalesce: a triangle-free graph must report 0, matching the
      // oracle's COUNT(*), not a NULL sum over zero rows (ADVICE r6)
      .agg(coalesce(sum(col("c")), lit(0)).cast("bigint").as("n_triangles"))
      .crossJoin(e.agg(count(lit(1)).as("n_edges")))
      .crossJoin(deg.agg(count(lit(1)).as("n_vertices")))
  }

  /** Degree distribution of the co-purchase graph: how many vertices
    * have each degree — the O(1)-output profile that sizes every
    * downstream graph job (and the skew evidence for the orientation
    * trick above). Two hash aggregates, no joins. */
  private def degreeDistribution(s: SparkSession, d: String): DataFrame =
    degrees(coPurchaseEdges(s, d))
      .groupBy(col("deg")).agg(count(lit(1)).as("n_vertices"))
      .orderBy("deg")

  private val prIters = 5

  /** The pinned rank iteration of [[pageRank]] and
    * [[personalizedPageRank]] [N] over the canonical `a < b` `edges`: a
    * random walk with restart whose teleport mass returns to the vertices
    * where `seed(node)` holds — every vertex for global PageRank, so
    * restart is uniform. It is CROSS-ENGINE-DETERMINISTIC. The naive
    * formulation can never hash-match an oracle: per-neighbor
    * contribution sums are double adds whose result depends on
    * aggregation order. Here each iteration pins the per-edge
    * contribution to a 12dp decimal (`bround(rank/deg, 12)` ↔
    * `round_even(...)`) so the neighbor sum is EXACT and order-invariant,
    * converts the sum to double once per vertex, and re-pins the damped
    * rank at 12dp — bit-identical on any partitioning and in any engine.
    * Fixed `prIters` iterations (deterministic work, no convergence
    * action); undirected edges mean no dangling mass. Returns
    * (node, deg, rank).
    *
    * Two paths, one answer (GraphSpec pins them row-identical). Below
    * [[DriverRounds.collectBounded]]' broadcast-sized gate the edges are
    * collected once (with `seed` evaluated by Spark on both endpoints) and
    * [[DriverRounds.pinnedRank]] runs the same pinned steps in the JVM,
    * returning a LocalRelation. Above it, the distributed rounds: per
    * iteration one equi-join rank×edges (both layouts of [[edgePrep]]) +
    * one hash agg, and `.cut()` bounds the lineage exactly like
    * [[Dedup.connectedComponents]]. */
  private[graft] def pinnedRank(s: SparkSession, edges: DataFrame,
                                seed: Column => Column): DataFrame =
    DriverRounds.collectBounded(s,
        edges.select(col("a"), col("b"), seed(col("a")), seed(col("b"))))
      .map(DriverRounds.pinnedRank(s, edges, _, prIters))
      .getOrElse(rankRounds(s, edges, seed))

  /** [[pinnedRank]]'s distributed rounds. */
  private def rankRounds(s: SparkSession, edges: DataFrame,
                         seed: Column => Column): DataFrame = {
    val dir = edgePrep(s, bothWays(edges, "src", "dst"), "src")
    val deg = dir.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("deg")).cut()
    // the seed count, floored at 1: with no seed vertex (no edges, or a
    // rule no vertex meets) the seed branches are dead, but an
    // always-true rule would still constant-fold `x / 0.0`, which ANSI
    // throws
    val nS = deg.filter(seed(col("node"))).count().toDouble max 1.0
    var r = deg.select(col("node"), col("deg"),
      when(seed(col("node")), bround(lit(1.0) / nS, 12))
        .otherwise(lit(0.0)).as("rank"))
    // UNION-form round (r15, guide §2.4 — the shape that fixed the CC
    // fixpoint): the per-edge contributions and deg's own row per node
    // ride ONE groupBy instead of `groupBy + deg LEFT JOIN broadcast(sums)`
    // — the left join semantics are exact because every node appears in
    // deg exactly once (max(dg) recovers its degree; its NULL `c` is
    // ignored by sum, so a node with no incoming contribution reads
    // sc = NULL → coalesce 0.0, bit-identical to the join-miss path).
    // Saves one broadcast-build job + one join per checkpointed round.
    def round(prev: DataFrame): DataFrame = {
      val contrib = maybeBroadcast(s, prev)
        .join(dir, col("node") === col("src"))
        .select(col("dst"),
          bround(col("rank") / col("deg"), 12).cast("decimal(24,12)").as("c"),
          lit(null).cast("long").as("dg"))
      val own = deg.select(col("node").as("dst"),
        lit(null).cast("decimal(24,12)").as("c"), col("deg").as("dg"))
      contrib.unionAll(own)
        .groupBy(col("dst"))
        .agg(sum(col("c")).as("sc"), max(col("dg")).as("dg"))
        .select(col("dst").as("node"), col("dg").as("deg"),
          bround(
            when(seed(col("dst")), lit(0.15) / nS).otherwise(lit(0.0)) +
              lit(0.85) * coalesce(col("sc").cast("double"), lit(0.0)), 12)
            .as("rank"))
    }
    // ONE pinned iteration per checkpoint (r15: the r14 two-per-cut
    // batching is reverted — the nested round(round(r)) re-derives the
    // inner rank table inside both the |E|-join and the degree left-join
    // of the outer round, so each action recomputed the inner iteration's
    // aggregation twice; the driver measured pagerank 3.70 -> 6.80 s.
    // With <=5 iterations per key the saved barriers never paid for the
    // duplicated subplan.)
    for (_ <- 1 to prIters) r = round(r).cut()
    r
  }

  /** Global PageRank: [[pinnedRank]] with every vertex a seed. */
  private def pageRank(s: SparkSession, d: String): DataFrame =
    pinnedRank(s, coPurchaseEdges(s, d), _ => lit(true))
      .select(col("node"), bround(col("rank"), 8).as("rank")).orderBy("node")

  /** The oracle unrolls the same pinned iteration `prIters` times as
    * chained CTEs (generated — the md5-twin discipline): every
    * rounding, cast, and float op mirrors the Spark side verbatim, so
    * the final ranks hash-match exactly. */
  private def pageRankOracle: String = {
    val base =
      """WITH edges AS MATERIALIZED (
        |  SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
        |  FROM lineitem l1 JOIN lineitem l2
        |    ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey < l2.l_partkey),
        |dir AS MATERIALIZED (SELECT a AS src, b AS dst FROM edges
        |        UNION ALL SELECT b, a FROM edges),
        |deg AS MATERIALIZED (SELECT src AS node, count(*) AS deg
        |                     FROM dir GROUP BY src),
        |nn AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS n FROM deg),
        |r0 AS MATERIALIZED (SELECT node, deg, round_even(1.0 / nn.n, 12) AS rank
        |       FROM deg, nn)""".stripMargin
    val iters = (1 to prIters).map { i =>
      s"""r$i AS MATERIALIZED (
         |  SELECT d.node, d.deg,
         |         round_even(0.15 / nn.n
         |           + 0.85 * CAST(coalesce(s.sc, 0) AS DOUBLE), 12) AS rank
         |  FROM deg d CROSS JOIN nn LEFT JOIN (
         |    SELECT dir.dst,
         |           sum(CAST(round_even(p.rank / p.deg, 12)
         |                    AS DECIMAL(24,12))) AS sc
         |    FROM r${i - 1} p JOIN dir ON p.node = dir.src
         |    GROUP BY dir.dst) s
         |  ON d.node = s.dst)""".stripMargin
    }.mkString(",\n")
    s"""$base,
       |$iters
       |SELECT node, round_even(rank, 8) AS rank
       |FROM r$prIters ORDER BY node""".stripMargin
  }

  /** Personalized PageRank [N] (the topic-sensitive variant, Haveliwala
    * 2002): random-walk-with-restart where ALL teleport mass returns to
    * a seed set (here parts with key ≡ 0 mod 10 — a deterministic 10%
    * "catalog section") instead of spreading uniformly — the
    * recommendation / related-items primitive global PageRank cannot
    * express (global PR ranks hubs; PPR ranks proximity TO THE SEEDS).
    * The iteration is [[pinnedRank]]'s. Non-seed restart mass is exactly
    * 0.0, so seed proximity decays visibly with distance (Round9bSpec
    * asserts the seed mass dominates). */
  private def personalizedPageRank(s: SparkSession, d: String): DataFrame =
    pinnedRank(s, coPurchaseEdges(s, d), _ % 10 === 0)
      .select(col("node"), (col("node") % 10 === 0).as("is_seed"),
        bround(col("rank"), 8).as("rank")).orderBy("node")

  /** Unrolled-CTE oracle, generated like [[pageRankOracle]] — every
    * pin, cast, and float op mirrored token-for-token. */
  private def pprOracle: String = {
    val base =
      """WITH edges AS MATERIALIZED (
        |  SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
        |  FROM lineitem l1 JOIN lineitem l2
        |    ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey < l2.l_partkey),
        |dir AS MATERIALIZED (SELECT a AS src, b AS dst FROM edges
        |        UNION ALL SELECT b, a FROM edges),
        |deg AS MATERIALIZED (SELECT src AS node, count(*) AS deg
        |                     FROM dir GROUP BY src),
        |ns AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS ns
        |                    FROM deg WHERE node % 10 = 0),
        |r0 AS MATERIALIZED (
        |  SELECT node, deg,
        |         CASE WHEN node % 10 = 0 THEN round_even(1.0 / ns.ns, 12)
        |              ELSE 0.0 END AS rank
        |  FROM deg, ns)""".stripMargin
    val iters = (1 to prIters).map { i =>
      s"""r$i AS MATERIALIZED (
         |  SELECT d.node, d.deg,
         |         round_even(CASE WHEN d.node % 10 = 0 THEN 0.15 / ns.ns
         |                         ELSE 0.0 END
         |           + 0.85 * CAST(coalesce(s.sc, 0) AS DOUBLE), 12) AS rank
         |  FROM deg d CROSS JOIN ns LEFT JOIN (
         |    SELECT dir.dst,
         |           sum(CAST(round_even(p.rank / p.deg, 12)
         |                    AS DECIMAL(24,12))) AS sc
         |    FROM r${i - 1} p JOIN dir ON p.node = dir.src
         |    GROUP BY dir.dst) s
         |  ON d.node = s.dst)""".stripMargin
    }.mkString(",\n")
    s"""$base,
       |$iters
       |SELECT node, node % 10 = 0 AS is_seed, round_even(rank, 8) AS rank
       |FROM r$prIters ORDER BY node""".stripMargin
  }

  private val walkLen = 4

  /** Deterministic random-walk corpus [N] — the node2vec/DeepWalk
    * sampling primitive (Grover & Leskovec 2016): one length-4 uniform
    * walk from every seed vertex (part keys ≡ 0 mod 10, the same
    * catalog section [[personalizedPageRank]] restarts at), emitted as
    * (seed, step, node) rows — the training sequences a graph-embedding
    * job consumes. "Random" is an md5 coin over (seed, current node,
    * step): hex8(md5) mod degree indexes into the dst-sorted ranked
    * adjacency — deterministic under retries, repartitioning, AND
    * engines (the `stats_bootstrap` draw discipline on a graph), which
    * is what makes a 100 TB walk corpus reproducible. Every vertex of
    * the undirected graph has degree ≥ 1, so walks never die.
    *
    * Plan shape: ranked adjacency = one window over edges partitioned
    * by src (hub-bounded fan-in); then per step ONE hash join frontier×
    * degree + ONE hash join on (node, rank) into the adjacency —
    * frontier stays seed-set-sized, the |E|-row side is checkpointed
    * once. No per-walk driver work, no quadratic stage. */
  private def randomWalks(s: SparkSession, d: String): DataFrame = {
    val dir = bothWays(coPurchaseEdges(s, d), "src", "dst")
    val wAdj = Window.partitionBy(col("src")).orderBy(col("dst"))
    val adj = dir.select(col("src").as("a_src"), col("dst").as("a_dst"),
        (row_number().over(wAdj) - 1).cast("long").as("a_rn"))
      .cut()
    val deg = adj.groupBy(col("a_src").as("d_src"))
      .agg(count(lit(1)).as("deg")).cut()
    var frontier = deg.filter(col("d_src") % 10 === 0)
      .select(col("d_src").as("seed"), lit(0).as("step"),
        col("d_src").as("node"))
    var walks = frontier
    for (t <- 1 to walkLen) {
      val coin = expr("graft_hex_long(md5(concat(" +
        s"cast(seed as string), '_', cast(node as string), '_$t:walk'))," +
        " 1, 8)")
      frontier = frontier
        .join(deg, col("node") === col("d_src"))
        .withColumn("pick", pmod(coin, col("deg")))
        .join(adj, col("node") === col("a_src") && col("a_rn") === col("pick"))
        .select(col("seed"), lit(t).as("step"), col("a_dst").as("node"))
        .cut()
      walks = walks.unionAll(frontier)
    }
    walks.orderBy("seed", "step")
  }

  /** Unrolled-CTE oracle: the strpos hex8 polynomial regenerates the
    * md5 coin (DuckDB has no conv), everything else is integer joins. */
  private def randomWalksOracle: String = {
    def duckHex8(key: String): String =
      (0 until 8).map { i =>
        val f = 1L << (4 * (7 - i))
        s"(strpos('0123456789abcdef', substr(md5($key), ${i + 1}, 1)) - 1) * $f"
      }.mkString("(", "\n        + ", ")")
    val base =
      """WITH edges AS MATERIALIZED (
        |  SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
        |  FROM lineitem l1 JOIN lineitem l2
        |    ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey < l2.l_partkey),
        |dir AS MATERIALIZED (SELECT a AS src, b AS dst FROM edges
        |        UNION ALL SELECT b, a FROM edges),
        |adj AS MATERIALIZED (
        |  SELECT src, dst,
        |         row_number() OVER (PARTITION BY src ORDER BY dst) - 1 AS rn
        |  FROM dir),
        |deg AS MATERIALIZED (SELECT src, count(*) AS deg
        |                     FROM dir GROUP BY src),
        |w0 AS (SELECT src AS seed, 0 AS step, src AS node
        |       FROM deg WHERE src % 10 = 0)""".stripMargin
    val steps = (1 to walkLen).map { t =>
      val key = s"CAST(f.seed AS VARCHAR) || '_' || " +
        s"CAST(f.node AS VARCHAR) || '_$t:walk'"
      s"""w$t AS (
         |  SELECT f.seed, $t AS step, a.dst AS node
         |  FROM w${t - 1} f
         |  JOIN deg d ON f.node = d.src
         |  JOIN adj a ON a.src = f.node
         |   AND a.rn = ${duckHex8(key)} % d.deg)""".stripMargin
    }.mkString(",\n")
    val union = (0 to walkLen).map(t => s"SELECT * FROM w$t")
      .mkString("\n  UNION ALL ")
    s"""$base,
       |$steps
       |SELECT seed, step, node FROM (
       |  $union)
       |ORDER BY seed, step""".stripMargin
  }

  /** node2vec parameters: integer edge weights 2/4/2 encode the
    * return (1/p), distance-1 (1), and outward (1/q) biases at
    * p = q = 2 scaled ×4 — integers so the cumulative-weight pick is
    * exact on both engines. */
  private val n2vBack = 2L
  private val n2vCommon = 4L
  private val n2vOut = 2L

  /** Second-order biased random walks [N] — the ACTUAL node2vec
    * sampler (Grover & Leskovec 2016 §3.2), one level up from
    * [[randomWalks]]'s uniform first-order hops: the next hop's weight
    * depends on the PREVIOUS node — 1/p to return, 1 to a common
    * neighbor of prev (BFS-ish), 1/q to move outward (DFS-ish). With
    * p = q = 2 the weights are the integers {2, 4, 2}, so the biased
    * choice is an md5 coin against an EXACT cumulative-weight ladder
    * over the nxt-sorted candidate list — deterministic across
    * retries, partitionings, and engines, like every draw in this
    * repo. Step 1 has no prev and falls back to the uniform pick.
    *
    * Plan shape per step: frontier×edges equi-join (candidates), a
    * LEFT equi-join against the edge set classifying (prev, nxt) as
    * common-neighbor, one frontier-partitioned window cumsum, one
    * filter — frontier stays seed-set-sized, the |E| side is the
    * shared checkpointed relation. No quadratic stage, no driver-side
    * walk state. */
  private def node2vecWalks(s: SparkSession, d: String): DataFrame = {
    val dir = bothWays(coPurchaseEdges(s, d), "src", "dst").cut()
    val deg = dir.groupBy(col("src").as("d_src"))
      .agg(count(lit(1)).as("deg")).cut()
    val edgeFlag = dir.select(col("src").as("e_src"), col("dst").as("e_dst"),
      lit(1).as("is_e"))
    // step 0: the seeds; step 1: uniform (no prev yet)
    val w0 = deg.filter(col("d_src") % 10 === 0)
      .select(col("d_src").as("seed"), lit(0).as("step"),
        lit(-1L).as("prev"), col("d_src").as("node"))
    val coin1 = expr("graft_hex_long(md5(concat(" +
      "cast(seed as string), '_', cast(node as string), '_1:n2v'))," +
      " 1, 8)")
    val wAdj = Window.partitionBy(col("src")).orderBy(col("dst"))
    val adj = dir.select(col("src").as("a_src"), col("dst").as("a_dst"),
      (row_number().over(wAdj) - 1).cast("long").as("a_rn"))
    val w1 = w0.join(deg, col("node") === col("d_src"))
      .withColumn("pick", pmod(coin1, col("deg")))
      .join(adj, col("node") === col("a_src") && col("a_rn") === col("pick"))
      .select(col("seed"), lit(1).as("step"), col("node").as("prev"),
        col("a_dst").as("node"))
      .cut()
    var frontier = w1
    var walks = w0.unionAll(w1)
    for (t <- 2 to walkLen) {
      val coin = expr("graft_hex_long(md5(concat(" +
        "cast(seed as string), '_', cast(prev as string), '_', " +
        s"cast(node as string), '_$t:n2v')), 1, 8)")
      val wCum = Window.partitionBy(col("seed")).orderBy(col("nxt"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wTot = Window.partitionBy(col("seed"))
      frontier = frontier
        .join(dir, col("node") === col("src"))
        .select(col("seed"), col("prev"), col("node"), col("dst").as("nxt"))
        .join(edgeFlag,
          col("prev") === col("e_src") && col("nxt") === col("e_dst"), "left")
        .withColumn("w",
          when(col("nxt") === col("prev"), lit(n2vBack))
            .when(col("is_e").isNotNull, lit(n2vCommon))
            .otherwise(lit(n2vOut)))
        .withColumn("cum", sum(col("w")).over(wCum))
        .withColumn("tot", sum(col("w")).over(wTot))
        .withColumn("coin", pmod(coin, col("tot")))
        .filter(col("coin") >= col("cum") - col("w") && col("coin") < col("cum"))
        .select(col("seed"), lit(t).as("step"), col("node").as("prev"),
          col("nxt").as("node"))
        .cut()
      walks = walks.unionAll(frontier)
    }
    walks.select(col("seed"), col("step"), col("node"))
      .orderBy("seed", "step")
  }

  /** Unrolled-CTE oracle for the biased walks: the strpos hex8
    * polynomial regenerates each coin; weights, cumulative ladder, and
    * the pick filter are pure integers. */
  private def node2vecOracle: String = {
    def duckHex8(key: String): String =
      (0 until 8).map { i =>
        val f = 1L << (4 * (7 - i))
        s"(strpos('0123456789abcdef', substr(md5($key), ${i + 1}, 1)) - 1) * $f"
      }.mkString("(", "\n        + ", ")")
    val key1 = "CAST(f.seed AS VARCHAR) || '_' || " +
      "CAST(f.node AS VARCHAR) || '_1:n2v'"
    val base =
      s"""WITH edges AS MATERIALIZED (
         |  SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
         |  FROM lineitem l1 JOIN lineitem l2
         |    ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey < l2.l_partkey),
         |dir AS MATERIALIZED (SELECT a AS src, b AS dst FROM edges
         |        UNION ALL SELECT b, a FROM edges),
         |adj AS MATERIALIZED (
         |  SELECT src, dst,
         |         row_number() OVER (PARTITION BY src ORDER BY dst) - 1 AS rn
         |  FROM dir),
         |deg AS MATERIALIZED (SELECT src, count(*) AS deg
         |                     FROM dir GROUP BY src),
         |w0 AS (SELECT src AS seed, 0 AS step, CAST(-1 AS BIGINT) AS prev,
         |              src AS node
         |       FROM deg WHERE src % 10 = 0),
         |w1 AS (
         |  SELECT f.seed, 1 AS step, f.node AS prev, a.dst AS node
         |  FROM w0 f
         |  JOIN deg d ON f.node = d.src
         |  JOIN adj a ON a.src = f.node
         |   AND a.rn = ${duckHex8(key1)} % d.deg)""".stripMargin
    val steps = (2 to walkLen).map { t =>
      val key = s"CAST(seed AS VARCHAR) || '_' || CAST(prev AS VARCHAR)" +
        s" || '_' || CAST(node AS VARCHAR) || '_$t:n2v'"
      s"""c$t AS (
         |  SELECT f.seed, f.prev, f.node, dir.dst AS nxt,
         |         CASE WHEN dir.dst = f.prev THEN $n2vBack
         |              WHEN e.src IS NOT NULL THEN $n2vCommon
         |              ELSE $n2vOut END AS w
         |  FROM w${t - 1} f
         |  JOIN dir ON f.node = dir.src
         |  LEFT JOIN dir e ON f.prev = e.src AND dir.dst = e.dst),
         |l$t AS (
         |  SELECT seed, prev, node, nxt, w,
         |         sum(w) OVER (PARTITION BY seed ORDER BY nxt
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         |         sum(w) OVER (PARTITION BY seed) AS tot,
         |         ${duckHex8(key)} AS coin0
         |  FROM c$t),
         |w$t AS (
         |  SELECT seed, $t AS step, node AS prev, nxt AS node
         |  FROM l$t
         |  WHERE coin0 % tot >= cum - w AND coin0 % tot < cum)""".stripMargin
    }.mkString(",\n")
    val union = (0 to walkLen).map(t => s"SELECT seed, step, node FROM w$t")
      .mkString("\n  UNION ALL ")
    s"""$base,
       |$steps
       |SELECT seed, step, node FROM (
       |  $union)
       |ORDER BY seed, step""".stripMargin
  }

  private val lpIters = 3

  /** Hubs (parts in many orders) weld everything into one giant
    * community — label prop is only informative on the sparse part of
    * the graph, so restrict to vertices of degree ≤ cap, exactly like
    * [[jaccardNeighbors]]'s hub filter. */
  private val LpDegCap = 100

  /** The label-prop fixpoint state: (capped edge set, per-vertex final
    * labels) — shared by [[labelProp]] and [[modularity]]. Plan shape per
    * round: one equi-join labels×edges + two hash aggs — integer-only, so
    * both layouts of [[edgePrep]] (here keyed on `u`, the label side) are
    * trivially hash-exact. */
  private def labelPropState(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val e0 = coPurchaseEdges(s, d)
    val e = induced(s, e0,
      degrees(e0).filter(col("deg") <= LpDegCap).select(col("v")))
    // (v, u): u ranges over v's neighbors; join key is u (the label side)
    val und = edgePrep(s, bothWays(e, "v", "u"), "u")
    var lab = und.select(col("v")).distinct()
      .select(col("v"), col("v").as("lbl")).cut()
    def lpRound(prev: DataFrame): DataFrame = {
      val nbr = maybeBroadcast(s, prev)
        .withColumnRenamed("v", "u")
        .join(und, "u")
      // mode with smallest-label tie-break as ONE hash agg:
      // max(struct(cnt, -lbl)) = (largest count, then smallest label) —
      // same pick as `row_number over (order by cnt desc, lbl)` without
      // the per-vertex sort a window would add each round
      nbr.groupBy(col("v"), col("lbl")).agg(count(lit(1)).as("cnt"))
        .groupBy(col("v"))
        .agg(max(struct(col("cnt"), (-col("lbl")).as("neg"))).as("m"))
        .select(col("v"), (-col("m.neg")).as("lbl"))
    }
    // one round per checkpoint (r15 revert — see pinnedRank)
    for (_ <- 1 to lpIters) lab = lpRound(lab).cut()
    (e, lab)
  }

  /** Label-propagation community detection [N] (Raghavan et al. 2007),
    * made DETERMINISTIC: synchronous rounds, every vertex adopts the
    * MODE of its neighbors' current labels with ties broken by the
    * smallest label (the original's random tie-break and asynchronous
    * order are the known nondeterminism sources — fixing both gives a
    * cross-engine hash-exact algorithm with no float in sight). Fixed
    * `lpIters` rounds; output is the community profile (size + min
    * member per label). */
  private def labelProp(s: SparkSession, d: String): DataFrame = {
    val (_, lab) = labelPropState(s, d)
    lab.groupBy(col("lbl").as("community"))
      .agg(count(lit(1)).as("size"), min(col("v")).as("min_member"))
      .orderBy("community")
  }

  /** Newman modularity of the label-prop partition [N] — the quality
    * score every community detection reports: per community c,
    * ΔQ_c = e_c/m − (d_c/2m)², folded here as the EXACT integer
    * numerator q_num = 4m·e_c − d_c² over the common denominator 4m²
    * (Σ_c ΔQ_c = Q). All tallies are integers; q_num accumulates as
    * decimal(38,0) on the Spark side and HUGEINT in the oracle (4m²
    * crosses int64 once |E| passes ~1.5e9 — SF ≈ 250, so int64 would
    * be a silent-overflow cliff, the skewKurt lesson), and only the
    * per-community division ΔQ = q_num/4m² touches IEEE: identical
    * exact integers in, one division, bit-identical out.
    *
    * Scale shape: re-labels both edge endpoints via two joins against
    * the |V|-row label table (broadcast mode ships labels; shuffle
    * mode hashes on the endpoint — the dual-layout posture of the
    * whole graph family), one hash agg per tally, and a 1-row m
    * crossJoin at the root (allowlisted). */
  private def modularity(s: SparkSession, d: String): DataFrame = {
    val (eRaw, lab) = labelPropState(s, d)
    val e = eRaw.cut()
    def dec(c: Column): Column = c.cast("decimal(19,0)")
    val labFor = (k: String) => maybeBroadcast(s,
      lab.select(col("v").as(k), col("lbl").as(s"lbl_$k")))
    val mRow = e.agg(count(lit(1)).as("m"))
    val deg = degrees(e)
    val ein = e.join(labFor("a"), "a").join(labFor("b"), "b")
      .filter(col("lbl_a") === col("lbl_b"))
      .groupBy(col("lbl_a").as("community"))
      .agg(count(lit(1)).as("e_in"))
    val qnum = (dec(lit(4)) * dec(col("m")) * dec(col("e_in")) -
      dec(col("d_sum")) * dec(col("d_sum"))).cast("decimal(38,0)")
    deg.join(maybeBroadcast(s, lab), "v")
      .groupBy(col("lbl").as("community"))
      .agg(count(lit(1)).as("n_nodes"), sum(col("deg")).as("d_sum"))
      .join(ein, Seq("community"), "left")
      .na.fill(0L, Seq("e_in"))
      .crossJoin(broadcast(mRow))
      .select(col("community"), col("n_nodes"), col("e_in"), col("d_sum"),
        qnum.cast("double").as("q_num"),
        (qnum.cast("double") /
          (dec(lit(4)) * dec(col("m")) * dec(col("m"))).cast("double"))
          .as("dq"))
      .orderBy("community")
  }

  /** Oracle: the same rounds unrolled as chained CTEs (the generated-
    * oracle discipline of [[pageRankOracle]]) — all-integer, so the
    * only things to mirror are the mode tie-break and the join shape.
    * [[labelPropCtes]] is the shared WITH-chain ([[modularityOracle]]
    * extends it). */
  private def labelPropCtes: String = {
    val base =
      s"""WITH e0 AS MATERIALIZED (
         |  SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
         |  FROM lineitem l1 JOIN lineitem l2
         |    ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey < l2.l_partkey),
         |dg AS MATERIALIZED (SELECT x, count(*) AS dg FROM (
         |         SELECT a AS x FROM e0 UNION ALL SELECT b FROM e0)
         |       GROUP BY x),
         |keep AS MATERIALIZED (SELECT x FROM dg WHERE dg <= $LpDegCap),
         |edges AS MATERIALIZED (SELECT e0.a, e0.b FROM e0
         |          JOIN keep ka ON e0.a = ka.x
         |          JOIN keep kb ON e0.b = kb.x),
         |und AS MATERIALIZED (SELECT a AS v, b AS u FROM edges
         |        UNION ALL SELECT b, a FROM edges),
         |l0 AS MATERIALIZED (SELECT DISTINCT v, v AS lbl FROM und)""".stripMargin
    val iters = (1 to lpIters).map { i =>
      s"""l$i AS MATERIALIZED (
         |  SELECT v, lbl FROM (
         |    SELECT c.v, c.lbl,
         |           row_number() OVER (PARTITION BY c.v
         |                              ORDER BY c.cnt DESC, c.lbl) AS rn
         |    FROM (SELECT und.v, p.lbl, count(*) AS cnt
         |          FROM und JOIN l${i - 1} p ON p.v = und.u
         |          GROUP BY und.v, p.lbl) c)
         |  WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""$base,
       |$iters""".stripMargin
  }

  private def labelPropOracle: String =
    s"""$labelPropCtes
       |SELECT lbl AS community, CAST(count(*) AS BIGINT) AS size,
       |       min(v) AS min_member
       |FROM l$lpIters GROUP BY lbl ORDER BY community""".stripMargin

  /** Modularity oracle: the label-prop chain, then integer tallies and
    * the exact-integer q_num in HUGEINT (mirror of decimal(38,0)). */
  private def modularityOracle: String =
    s"""$labelPropCtes,
       |deg2 AS MATERIALIZED (SELECT x AS v, count(*) AS deg FROM (
       |         SELECT a AS x FROM edges UNION ALL SELECT b FROM edges)
       |       GROUP BY 1),
       |mm AS (SELECT CAST(count(*) AS HUGEINT) AS m FROM edges),
       |ein AS (SELECT la.lbl AS community, CAST(count(*) AS BIGINT) AS e_in
       |        FROM edges
       |        JOIN l$lpIters la ON la.v = edges.a
       |        JOIN l$lpIters lb ON lb.v = edges.b
       |        WHERE la.lbl = lb.lbl GROUP BY 1),
       |ds AS (SELECT l.lbl AS community, CAST(count(*) AS BIGINT) AS n_nodes,
       |              CAST(sum(deg) AS BIGINT) AS d_sum
       |       FROM deg2 JOIN l$lpIters l USING (v) GROUP BY 1)
       |SELECT ds.community, n_nodes, coalesce(e_in, CAST(0 AS BIGINT)) AS e_in,
       |       d_sum,
       |       CAST(4 * m * coalesce(e_in, 0)
       |            - CAST(d_sum AS HUGEINT) * d_sum AS DOUBLE) AS q_num,
       |       CAST(4 * m * coalesce(e_in, 0)
       |            - CAST(d_sum AS HUGEINT) * d_sum AS DOUBLE)
       |         / CAST(4 * m * m AS DOUBLE) AS dq
       |FROM ds LEFT JOIN ein USING (community) CROSS JOIN mm
       |ORDER BY community""".stripMargin

  private val bfsRounds = 4

  /** The traversal seeds: vertices ≡ 0 mod 101 of the directed edge list
    * `dir`, as one column `name`. */
  private def sources(dir: DataFrame, name: String): DataFrame =
    dir.select(col("src").as(name)).distinct()
      .filter(pmod(col(name), lit(101)) === 0)

  /** The bounded min-relaxation of [[bfs]], [[closeness]] and [[sssp]]:
    * `bfsRounds` rounds from `init` (`carry` columns, node, dist) over the
    * [[edgePrep]]'d edges `dir`, each hop adding `step` to dist. Pure
    * INTEGER iteration — min-distance propagation needs no float pinning,
    * so both layouts are trivially hash-exact. Each round is one
    * equi-join + one (carry, node) min-aggregate with the lineage cut;
    * the state stays ≤ (distinct carry values)×|V| rows because the min
    * collapses paths. */
  private def minRelax(s: SparkSession, dir: DataFrame, init: DataFrame,
                       carry: Seq[String], step: Column): DataFrame = {
    var reach = init
    // one relaxation per checkpoint (r15 revert — the round references
    // `reach` twice (the |E|-join AND the unionAll), so a nested
    // round(round(reach)) recomputed the inner edge join per action;
    // measured sssp 2.19 -> 2.56 s at sf0.1)
    for (_ <- 1 to bfsRounds) {
      val next = maybeBroadcast(s, reach)
        .join(dir, col("node") === col("src"))
        .select(carry.map(col) :+ col("dst").as("node") :+
          (col("dist") + step).as("dist"): _*)
      reach = reach.unionAll(next)
        .groupBy((carry :+ "node").map(col): _*)
        .agg(min(col("dist")).as("dist"))
        .cut()
    }
    reach
  }

  /** Multi-source BFS [N]: shortest hop-distance (≤ `bfsRounds`) from the
    * [[sources]] over the co-purchase graph, by [[minRelax]]. */
  private def bfs(s: SparkSession, d: String): DataFrame = {
    val dir = edgePrep(s, bothWays(coPurchaseEdges(s, d), "src", "dst"), "src")
    minRelax(s, dir, sources(dir, "node").withColumn("dist", lit(0)), Nil,
      lit(1)).orderBy("node")
  }

  /** Bounded-depth recursive CTE: `UNION` (not ALL) keeps each level's
    * working set to distinct (node, dist) pairs — ≤|V| per level, never
    * the path-combinatorial blowup — and min(dist) at the end is
    * exactly the BFS distance. */
  private def bfsOracle: String =
    s"""WITH RECURSIVE edges AS (
       |  SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
       |  FROM lineitem l1 JOIN lineitem l2
       |    ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey < l2.l_partkey),
       |dir AS (SELECT a AS src, b AS dst FROM edges
       |        UNION ALL SELECT b, a FROM edges),
       |walk(node, dist) AS (
       |  SELECT DISTINCT src, 0 FROM dir WHERE src % 101 = 0
       |  UNION
       |  SELECT dir.dst, w.dist + 1
       |  FROM walk w JOIN dir ON w.node = dir.src
       |  WHERE w.dist < $bfsRounds)
       |SELECT node, CAST(min(dist) AS INTEGER) AS dist
       |FROM walk GROUP BY node ORDER BY node""".stripMargin

  /** Closeness centrality [N] for the sampled source set (the same
    * [[sources]] [[bfs]] expands), DEFINED within `bfsRounds` hops — the
    * bounded-frontier contract that makes the measure computable in
    * fixed rounds at any scale. Unlike [[bfs]] the [[minRelax]] state
    * keys on (source, node), so each source's distance field stays
    * separate; closeness is the exact integer ratio (reached−1)/Σdist per
    * source, one IEEE division — the harmonic variant would sum double
    * reciprocals (partition-order-dependent), so the classic definition
    * is the deterministic one. */
  private def closeness(s: SparkSession, d: String): DataFrame = {
    val dir = edgePrep(s, bothWays(coPurchaseEdges(s, d), "src", "dst"), "src")
    val init = sources(dir, "s0")
      .select(col("s0"), col("s0").as("node"), lit(0).as("dist"))
    minRelax(s, dir, init, Seq("s0"), lit(1))
      .groupBy(col("s0").as("source"))
      .agg(count(lit(1)).as("n_reached"), sum(col("dist")).as("total_dist"))
      .selectExpr("source", "cast(n_reached as bigint) as n_reached",
        "cast(total_dist as bigint) as total_dist",
        "cast(n_reached - 1 as double) / cast(total_dist as double)" +
          " as closeness")
      .orderBy("source")
  }

  private def closenessOracle: String =
    s"""WITH RECURSIVE edges AS (
       |  SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
       |  FROM lineitem l1 JOIN lineitem l2
       |    ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey < l2.l_partkey),
       |dir AS (SELECT a AS src, b AS dst FROM edges
       |        UNION ALL SELECT b, a FROM edges),
       |walk(s0, node, dist) AS (
       |  SELECT DISTINCT src, src, 0 FROM dir WHERE src % 101 = 0
       |  UNION
       |  SELECT w.s0, dir.dst, w.dist + 1
       |  FROM walk w JOIN dir ON w.node = dir.src
       |  WHERE w.dist < $bfsRounds),
       |md AS (
       |  SELECT s0, node, min(dist) AS dist FROM walk GROUP BY 1, 2)
       |SELECT s0 AS source, count(*) AS n_reached,
       |       CAST(sum(dist) AS BIGINT) AS total_dist,
       |       CAST(count(*) - 1 AS DOUBLE) / CAST(sum(dist) AS DOUBLE)
       |         AS closeness
       |FROM md GROUP BY s0 ORDER BY source""".stripMargin

  /** Bounded multi-source single-source-shortest-path [N] — the
    * weighted twin of [[bfs]]: min-PLUS relaxation instead of min-hop,
    * with a pure-integer edge weight derived from the endpoint keys
    * (`(a + b) mod 7 + 1`, so both engines agree on every weight
    * without a stored column). `bfsRounds` [[minRelax]] rounds give the
    * exact shortest distance over paths of ≤ that many edges. All-integer
    * arithmetic, so broadcast and shuffle layouts are hash-identical
    * (GraphSpec) and the recursive-CTE oracle can enumerate the same
    * bounded path space exactly: distances are ≤ 7·rounds, so the
    * UNION-dedup'd working set stays tiny. */
  private def sssp(s: SparkSession, d: String): DataFrame = {
    val dir = edgePrep(s, bothWays(coPurchaseEdges(s, d), "src", "dst")
      .withColumn("w", pmod(col("src") + col("dst"), lit(7)) + 1), "src")
    minRelax(s, dir, sources(dir, "node").withColumn("dist", lit(0L)), Nil,
      col("w")).orderBy("node")
  }

  private def ssspOracle: String =
    s"""WITH RECURSIVE edges AS (
       |  SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
       |  FROM lineitem l1 JOIN lineitem l2
       |    ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey < l2.l_partkey),
       |dir AS (SELECT a AS src, b AS dst, (a + b) % 7 + 1 AS w FROM edges
       |        UNION ALL SELECT b, a, (a + b) % 7 + 1 FROM edges),
       |walk(node, dist, hop) AS (
       |  SELECT DISTINCT src, CAST(0 AS BIGINT), 0 FROM dir WHERE src % 101 = 0
       |  UNION
       |  SELECT dir.dst, w.dist + dir.w, w.hop + 1
       |  FROM walk w JOIN dir ON w.node = dir.src
       |  WHERE w.hop < $bfsRounds)
       |SELECT node, CAST(min(dist) AS BIGINT) AS dist
       |FROM walk GROUP BY node ORDER BY node""".stripMargin

  /** Keeps the low-degree fringe of the (dense) co-purchase graph:
    * the synthetic graph's median degree is ~115 at every SF, so 80
    * retains ~5% of vertices with a hard |V|·C(cap,2) wedge bound —
    * measured 227 candidate pairs at sf0.01, 2032 at sf0.1. */
  private val JaccardDegCap = 80

  /** The capped neighbour relation (v, n) of the link-prediction keys:
    * both directions of every edge whose endpoints both have degree ≤
    * [[JaccardDegCap]]. */
  private def cappedNeighbours(s: SparkSession, e: DataFrame): DataFrame = {
    val keep = degrees(e).filter(col("deg") <= JaccardDegCap).select(col("v"))
    bothWays(e, "v", "n")
      .join(maybeBroadcast(s, keep), "v")
      .join(maybeBroadcast(s, keep.withColumnRenamed("v", "n")), "n")
      .select(col("v"), col("n"))
  }

  /** Per vertex of the neighbour relation `nbrs`, its sorted list `ns`. */
  private def neighbourLists(nbrs: DataFrame): DataFrame =
    nbrs.groupBy(col("v")).agg(sort_array(collect_set(col("n"))).as("ns"))

  /** The candidate pairs (x, y) that are not already edges of `e`. */
  private def nonEdges(pairs: DataFrame, e: DataFrame): DataFrame =
    pairs.join(e, pairs("x") === e("a") && pairs("y") === e("b"), "left_anti")

  /** Common-neighbor Jaccard link prediction [N]: for every 2-hop
    * vertex pair that is NOT already an edge, |N(x)∩N(y)| / |N(x)∪N(y)|,
    * top-K by score. The wedge expansion is the quadratic hazard here
    * (Σ deg² blows up on hubs), so the operator is DEFINED over the
    * super-node-filtered subgraph ([[cappedNeighbours]]) — vertices
    * above [[JaccardDegCap]] drop before anything fans out, the standard
    * production guard (hub-mediated candidates are low-signal anyway: a
    * part in every order "links" everything). That bounds the wedge
    * stage at |V|·cap² rows regardless of data scale; everything else is
    * hash aggs and equi-joins on vertex keys, with the vertex-domain
    * degree lookups behind [[maybeBroadcast]]. Scoring is one exact
    * long/long IEEE division per pair — no rounding needed — and the
    * top-K order is fully tie-broken (score desc, x, y), so the emitted
    * set is deterministic at any partitioning. */
  private def jaccardNeighbors(s: SparkSession, d: String): DataFrame = {
    val e = coPurchaseEdges(s, d)
    val undF = cappedNeighbours(s, e)
    val degF = undF.groupBy(col("v")).agg(count(lit(1)).as("degf"))
    val pairs = neighbourLists(undF)
      .select(ascendingPairs("ns").as("p"))
      .select(col("p.a").as("x"), col("p.b").as("y"))
      .groupBy(col("x"), col("y")).agg(count(lit(1)).as("common"))
    nonEdges(pairs, e)
      .join(maybeBroadcast(s,
        degF.select(col("v").as("x"), col("degf").as("dx"))), "x")
      .join(maybeBroadcast(s,
        degF.select(col("v").as("y"), col("degf").as("dy"))), "y")
      .select(col("x"), col("y"), col("common"),
        (col("common") / (col("dx") + col("dy") - col("common")))
          .as("jaccard"))
      .orderBy(desc("jaccard"), col("x"), col("y"))
      .limit(100)
  }

  /** Adamic-Adar link prediction [N] over the same capped subgraph as
    * [[jaccardNeighbors]]: score(x,y) = Σ_{w ∈ Γ(x)∩Γ(y)} 1/ln(deg w)
    * — common neighbors, discounted by how promiscuous they are. The
    * wedge explode already visits every (x, w, y) once, so the score
    * is a per-wedge weight summed per pair: 1/ln is pinned at 6dp (the
    * `eval_ndcg` log-literal discipline — Spark's Math.log and
    * DuckDB's ln may differ a ULP) and accumulates as an exact
    * decimal, order-invariant; the output cast to double is exact at
    * this magnitude. Same scale shape as jaccard: wedges are bounded
    * by |V|·C(cap,2), never by part popularity. */
  private def adamicAdar(s: SparkSession, d: String): DataFrame = {
    val e = coPurchaseEdges(s, d)
    val pairs = neighbourLists(cappedNeighbours(s, e))
      .filter(size(col("ns")) >= 2)
      .select(
        bround(lit(1.0) / log(size(col("ns")).cast("double")), 6)
          .cast("decimal(16,6)").as("w"),
        ascendingPairs("ns").as("p"))
      .select(col("p.a").as("x"), col("p.b").as("y"), col("w"))
      .groupBy(col("x"), col("y"))
      .agg(count(lit(1)).as("common"), sum(col("w")).as("aa"))
    nonEdges(pairs, e)
      .select(col("x"), col("y"), col("common"),
        col("aa").cast("double").as("adamic_adar"))
      .orderBy(desc("adamic_adar"), col("x"), col("y"))
      .limit(100)
  }

  private val KCoreK = 60
  private val KCoreRounds = 4

  /** Bounded k-core peel [N] (Seidman 1983; the distributed peel is the
    * textbook iterate-until-fixpoint): each round drops every vertex
    * whose CURRENT degree is below `KCoreK` and restricts the edge set
    * to survivors; after `KCoreRounds` rounds the output is each
    * survivor with its degree in the peeled subgraph. Fixed rounds keep
    * the work deterministic and let the oracle unroll the same peel as
    * chained CTEs (the [[labelPropOracle]] discipline) — the true core
    * is the fixpoint, and GraphSpec asserts the round count REACHES it
    * on this graph (every surviving degree is already ≥ k, so a further
    * round peels nothing), so the bounded answer is not an
    * approximation here.
    *
    * Scale shape per round: one degree hash-agg + two semi-joins on the
    * vertex key — integer-only, no wedges, no adjacency arrays; the
    * survivor relation only shrinks. The vertex-domain semi-join sides
    * ride [[maybeBroadcast]] like the rest of the family, so with
    * a negative `autoBroadcastJoinThreshold` every step is a shuffled
    * equi-join and the plan survives an unbounded vertex domain. */
  private def kcore(s: SparkSession, d: String): DataFrame = {
    var edges = coPurchaseEdges(s, d)
    for (_ <- 1 to KCoreRounds)
      edges = induced(s, edges,
        degrees(edges).filter(col("deg") >= KCoreK).select(col("v"))).cut()
    degrees(edges).orderBy("v")
  }

  /** Oracle: the identical peel unrolled — degree, threshold, restrict,
    * `KCoreRounds` times. All-integer, so hash equality is exact. */
  private def kcoreOracle: String = {
    val base =
      """WITH e0 AS MATERIALIZED (
        |  SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
        |  FROM lineitem l1 JOIN lineitem l2
        |    ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey < l2.l_partkey)""".stripMargin
    val rounds = (1 to KCoreRounds).map { i =>
      s"""d$i AS MATERIALIZED (SELECT v, count(*) AS deg FROM (
         |         SELECT a AS v FROM e${i - 1} UNION ALL SELECT b FROM e${i - 1})
         |       GROUP BY v),
         |k$i AS MATERIALIZED (SELECT v FROM d$i WHERE deg >= $KCoreK),
         |e$i AS MATERIALIZED (SELECT e.a, e.b FROM e${i - 1} e
         |        JOIN k$i x ON e.a = x.v JOIN k$i y ON e.b = y.v)""".stripMargin
    }.mkString(",\n")
    s"""$base,
       |$rounds
       |SELECT v, CAST(count(*) AS BIGINT) AS deg FROM (
       |  SELECT a AS v FROM e$KCoreRounds UNION ALL SELECT b FROM e$KCoreRounds)
       |GROUP BY v ORDER BY v""".stripMargin
  }

  private val HitsRounds = 4

  /** HITS hubs-and-authorities (Kleinberg 1999) on the ID-ORIENTED
    * co-purchase graph [N], CROSS-ENGINE DETERMINISTIC. The canonical
    * `a < b` edge direction gives a DAG-like directed graph where hub
    * and authority roles genuinely differ (an undirected HITS collapses
    * to the degree vector), and the orientation is a pure function of
    * the data — no RNG, no tie-break ambiguity.
    *
    * Pinning (the [[pinnedRank]]/[[EmbPca]] discipline): scores live as
    * decimal(13,12) in [0,1]; each half-round's neighbor sum is EXACT
    * decimal arithmetic, re-pins via the decimal-native `round(sum, 8)`
    * (half-away-from-zero in BOTH engines — Spark's bare decimal
    * downcast rounds HALF_UP while DuckDB's truncates, so the cast is
    * never left implicit), and max-normalizes with ONE IEEE division of
    * a magnitude-≤1 quotient re-pinned at 12dp. The max is an exact
    * decimal max of non-negative scores — no ordering ambiguity.
    *
    * Scale shape per round: two equi-join + hash-agg passes over the
    * edge relation (h→auth on dst, a→hub on src). Broadcast mode ships
    * the |V|-row score table each half-round; with a negative threshold
    * ([[vertexBroadcast]]) the edge relation is pre-partitioned ONCE per
    * join side (src copy + dst copy, both checkpointed) and only the
    * score table moves — the [[edgePrep]] posture, doubled for the two
    * directions.
    *
    * Two paths, one answer (GraphSpec pins them row-identical): below
    * [[DriverRounds.collectBounded]]' gate [[DriverRounds.hits]] runs the
    * same sparse alternation in the JVM over the collected edges and
    * returns the dense (node, hs, as_) as a LocalRelation; above it,
    * [[hitsRounds]] runs the distributed rounds. The final rounding and
    * ordering run in Spark on either. */
  private[graft] def hitsIterate(s: SparkSession, edges: DataFrame): DataFrame =
    DriverRounds.collectBounded(s, edges.select(col("a"), col("b")))
      .map(DriverRounds.hits(s, edges, _, HitsRounds))
      .getOrElse(hitsRounds(s, edges))
      .select(col("node"),
        bround(coalesce(col("hs"), lit(0).cast("decimal(13,12)"))
          .cast("double"), 8).as("hub"),
        bround(coalesce(col("as_"), lit(0).cast("decimal(13,12)"))
          .cast("double"), 8).as("authority"))
      .orderBy("node")

  /** [[hitsIterate]]'s distributed rounds: the dense (node, hs, as_),
    * NULL where a sparse score table has no row. */
  private def hitsRounds(s: SparkSession, edges: DataFrame): DataFrame = {
    val bcast = vertexBroadcast(s)
    val e = edges.select(col("a").as("src"), col("b").as("dst"))
    // r15 (guide §2.4/§5): in broadcast mode the score table moves and
    // the edge relation never shuffles, so esrc/edst need no cut of
    // their own — `edges` is already checkpointed by the edge cache and
    // the rename projection is map-only over its blocks. The r14 layout
    // cut BOTH (edst = esrc.cut() — a localCheckpoint of a
    // localCheckpoint), paying two redundant |E| materializations at
    // setup. Shuffle mode keeps one cut per join side: there the cut
    // pins the pre-partitioned copy each half-round reuses.
    val esrc = if (bcast) e else e.repartition(col("src")).cut()
    val edst = if (bcast) esrc else e.repartition(col("dst")).cut()
    val nodes = e.select(col("src").as("node"))
      .unionAll(e.select(col("dst").as("node")))
      .distinct().cut()
    // r15 SPARSE iteration (guide §1.2/§2.4): score tables carry only the
    // nodes the half-round's join can produce (dsts with an in-edge /
    // srcs with an out-edge). A node absent from the sparse table is
    // EXACTLY a node the dense form scored 0: its edge contributions were
    // exact decimal 0 terms (round(sum+0,8) = round(sum,8)), its own
    // normalized score was 0/max = 0, and the max is unaffected (scores
    // are non-negative and at least one is positive — h starts at 1).
    // The dense nodes-LEFT-JOIN expansion therefore moves OUT of the loop
    // to the end, cutting one broadcast-build job per half-round.
    //
    // Normalization: broadcast mode divides by an unpartitioned-window
    // max INSIDE the one checkpointed pass — the score table is
    // dimension-bounded by the mode's own precondition, so the 1-partition
    // window is no worse than the broadcast it replaces, and it removes
    // the separate max-broadcast job AND the need to checkpoint the raw
    // aggregate (it is no longer read twice). Shuffle mode (unbounded
    // |V|) keeps the scale-safe form: checkpoint the raw aggregate, max
    // via 1-row agg + crossJoin(broadcast) — never a 1-partition pass.
    val wAll = Window.partitionBy()
    def halfRound(edgeSide: DataFrame, scores: DataFrame, joinKey: String,
                  groupKey: String, outCol: String): DataFrame = {
      val raw = edgeSide.join(maybeBroadcast(s, scores),
          col(joinKey) === col("node"))
        .groupBy(col(groupKey))
        .agg(round(sum(scores.columns.last), 8).cast("decimal(18,8)").as("r_"))
      if (bcast)
        raw.select(col(groupKey).as("node"),
            bround(col("r_").cast("double") /
              max(col("r_")).over(wAll).cast("double"), 12)
              .cast("decimal(13,12)").as(outCol))
          .cut()
      else {
        val rawCut = raw.cut()
        val mx = rawCut.agg(max(col("r_")).as("mx"))
        rawCut.crossJoin(broadcast(mx))
          .select(col(groupKey).as("node"),
            bround(col("r_").cast("double") / col("mx").cast("double"), 12)
              .cast("decimal(13,12)").as(outCol))
      }
    }
    var h = nodes.select(col("node"), lit(1).cast("decimal(13,12)").as("hs"))
    var a: DataFrame = null
    for (_ <- 1 to HitsRounds) {
      // authority half-round: sum incoming hub mass on dst
      a = halfRound(edst, h, "src", "dst", "as_")
      // hub half-round: sum outgoing authority mass on src
      h = halfRound(esrc, a, "dst", "src", "hs")
    }
    // dense expansion, once, in ONE pass over nodes: nodes with no
    // out-edges (pure authorities) and no in-edges (pure hubs) surface
    // here with their exact 0. Chaining both left joins off the same
    // scan avoids the SortMergeJoin (two exchanges + two sorts) that
    // joining two independently-expanded |V|-row tables would cost.
    nodes
      .join(maybeBroadcast(s, h), Seq("node"), "left")
      .join(maybeBroadcast(s, a), Seq("node"), "left")
  }

  private def hits(s: SparkSession, d: String): DataFrame =
    hitsIterate(s, coPurchaseEdges(s, d))

  /** Oracle: the identical pinned alternation unrolled as chained CTEs
    * (the [[pageRankOracle]] discipline — every round, cast, and IEEE
    * division mirrored verbatim). */
  private def hitsOracle: String = {
    val base =
      """WITH e AS MATERIALIZED (
        |  SELECT DISTINCT l1.l_partkey AS src, l2.l_partkey AS dst
        |  FROM lineitem l1 JOIN lineitem l2
        |    ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey < l2.l_partkey),
        |nodes AS MATERIALIZED (SELECT DISTINCT v AS node FROM
        |          (SELECT src AS v FROM e UNION ALL SELECT dst FROM e)),
        |h0 AS MATERIALIZED (SELECT node, CAST(1.000000000000 AS DECIMAL(13,12)) AS hs
        |       FROM nodes)""".stripMargin
    val rounds = (1 to HitsRounds).map { i =>
      s"""ar$i AS MATERIALIZED (
         |  SELECT e.dst, CAST(round(sum(hs), 8) AS DECIMAL(18,8)) AS ar
         |  FROM e JOIN h${i - 1} ON e.src = h${i - 1}.node GROUP BY e.dst),
         |a$i AS MATERIALIZED (
         |  SELECT n.node,
         |         coalesce(CAST(round_even(CAST(ar AS DOUBLE) /
         |             CAST((SELECT max(ar) FROM ar$i) AS DOUBLE), 12)
         |           AS DECIMAL(13,12)),
         |           CAST(0 AS DECIMAL(13,12))) AS as_
         |  FROM nodes n LEFT JOIN ar$i ON n.node = ar$i.dst),
         |hr$i AS MATERIALIZED (
         |  SELECT e.src, CAST(round(sum(as_), 8) AS DECIMAL(18,8)) AS hr
         |  FROM e JOIN a$i ON e.dst = a$i.node GROUP BY e.src),
         |h$i AS MATERIALIZED (
         |  SELECT n.node,
         |         coalesce(CAST(round_even(CAST(hr AS DOUBLE) /
         |             CAST((SELECT max(hr) FROM hr$i) AS DOUBLE), 12)
         |           AS DECIMAL(13,12)),
         |           CAST(0 AS DECIMAL(13,12))) AS hs
         |  FROM nodes n LEFT JOIN hr$i ON n.node = hr$i.src)""".stripMargin
    }.mkString(",\n")
    s"""$base,
       |$rounds
       |SELECT h.node, round_even(CAST(hs AS DOUBLE), 8) AS hub,
       |       round_even(CAST(as_ AS DOUBLE), 8) AS authority
       |FROM h$HitsRounds h JOIN a$HitsRounds a ON h.node = a.node
       |ORDER BY h.node""".stripMargin
  }

  /** Degree assortativity [N] — Newman's r: the Pearson correlation of
    * endpoint degrees over the 2|E| ordered edge directions (do hubs
    * link to hubs?). With symmetric sums Σj = Σk the formula collapses
    * to (nΣjk − (Σj)²)/(nΣj² − (Σj)²) — every sum an exact integer,
    * accumulated as decimal(19→38,0) (HUGEINT in the oracle), one IEEE
    * division at the end. Complements [[modularity]]: partition quality
    * vs degree mixing on the same edge relation.
    *
    * Scale shape: two joins of the edge list against the |V|-row degree
    * table (dual broadcast/shuffle layouts like the rest of the
    * family), one global agg. */
  private def assortativity(s: SparkSession, d: String): DataFrame = {
    val e0 = coPurchaseEdges(s, d)
    def dec(c: Column) = c.cast("decimal(19,0)")
    val deg = degrees(e0)
    val sums = bothWays(e0, "x", "y")
      .join(maybeBroadcast(s, deg.select(col("v").as("x"), col("deg").as("j"))),
        "x")
      .join(maybeBroadcast(s, deg.select(col("v").as("y"), col("deg").as("k"))),
        "y")
      .agg(count(lit(1)).as("n"),
        sum(dec(col("j"))).as("sj"),
        sum(dec(col("j")) * dec(col("j"))).as("sjj"),
        sum(dec(col("j")) * dec(col("k"))).as("sjk"))
    sums.select(col("n"),
      ((dec(col("n")) * col("sjk") - col("sj") * col("sj")).cast("double") /
        (dec(col("n")) * col("sjj") - col("sj") * col("sj")).cast("double"))
        .as("r"))
  }

  // ---- betweenness centrality ----------------------------------------

  /** Half-even ×10¹² scaled-integer division, the shared dialect of the
    * textrank/markov fixpoint discipline, as a SQL fragment (num/den
    * referenced by name; all operands non-negative). */
  private def divHE(num: String, den: String): String =
    s"(($num) div ($den)) + (case when (($num) % ($den)) * 2 > ($den) then 1 " +
      s"when (($num) % ($den)) * 2 = ($den) then ((($num) div ($den))) % 2 " +
      s"else 0 end)"

  private def divHEDuck(num: String, den: String): String =
    s"(($num) // ($den)) + (CASE WHEN (($num) % ($den)) * 2 > ($den) THEN 1 " +
      s"WHEN (($num) % ($den)) * 2 = ($den) THEN ((($num) // ($den))) % 2 " +
      s"ELSE 0 END)"

  /** Betweenness centrality [N] — truncated Brandes (2001) from the
    * sampled source set (the [[sources]] [[minRelax]] expands), paths
    * bounded at `bfsRounds` hops: the standard
    * sampled+bounded estimator used at scale (exact betweenness is
    * all-pairs). Forward pass: level-synchronous BFS carrying EXACT
    * integer shortest-path counts σ (decimal(38,0) — σ is a pure sum
    * over predecessor levels, no floats). Backward pass: the Brandes
    * dependency δ(v) = Σ_w (σ_v/σ_w)(1+δ(w)) over successor-DAG edges,
    * run on the ×10¹² integer grid with explicit half-even division —
    * both engines execute the identical integer recurrence, so the
    * accumulation is bit-exact (the textrank/markov discipline, here on
    * DISTRIBUTED frames rather than a collected matrix). Output
    * downscales to the ×10⁶ grid (bc6 < 2⁵³ at any tested SF) so the
    * final double is an exact conversion on both engines.
    *
    * Scale shape: per level one frontier⋈edges equi-join + one
    * (source, node) hash agg — frontier ≤ sources×|V|, the edge side
    * never re-shuffles in shuffle mode (the dual layout of
    * [[edgePrep]]). Levels are bounded (4), sources are a fixed 1/101
    * sample: the whole pass is
    * 7 bounded rounds of joins at any corpus size. */
  private def betweenness(s: SparkSession, d: String): DataFrame = {
    val dir = edgePrep(s, bothWays(coPurchaseEdges(s, d), "src", "dst"), "src")
    val lev0 = sources(dir, "s0")
      .select(col("s0"), col("s0").as("node"), lit(1).cast("decimal(38,0)").as("sigma"))
      .cut()
    // forward: byDist(l) = nodes first reached at hop l, with exact σ
    val byDist = scala.collection.mutable.ArrayBuffer(lev0)
    var settled = lev0.select(col("s0"), col("node"))
    for (_ <- 1 to bfsRounds) {
      val frontier = byDist.last
      val cand = maybeBroadcast(s, frontier)
        .join(dir, col("node") === col("src"))
        .groupBy(col("s0"), col("dst"))
        .agg(sum(col("sigma")).cast("decimal(38,0)").as("sigma"))
        .withColumnRenamed("dst", "node")
      val levL = cand.join(settled, Seq("s0", "node"), "left_anti")
        .cut()
      byDist += levL
      settled = settled.unionAll(levL.select(col("s0"), col("node")))
        .cut()
    }
    // backward: δ on the ×10^12 grid, deepest level seeds δ = 0
    val zero = lit(0).cast("decimal(38,0)")
    var deeper = byDist(bfsRounds).withColumn("delta12", zero)
    val acc = scala.collection.mutable.ArrayBuffer(
      deeper.select(col("node"), col("delta12")))
    for (dl <- (bfsRounds - 1) to 1 by -1) {
      val vs = byDist(dl)
      val contrib = vs
        .select(col("s0"), col("node").as("v"), col("sigma").as("sv"))
        .join(dir, col("v") === col("src"))
        .join(deeper.select(col("s0").as("s1"), col("node").as("w"),
          col("sigma").as("sw"), col("delta12")),
          col("s0") === col("s1") && col("dst") === col("w"))
        .selectExpr("s0", "v",
          "cast(sv * (cast(1000000000000 as decimal(38,0)) + delta12)" +
            " as decimal(38,0)) as num",
          "sw as den")
        .selectExpr("s0", "v", s"${divHE("num", "den")} as term")
        .groupBy(col("s0"), col("v"))
        .agg(sum(col("term")).cast("decimal(38,0)").as("delta12"))
        .withColumnRenamed("v", "node")
      deeper = vs.join(contrib, Seq("s0", "node"), "left")
        .withColumn("delta12", coalesce(col("delta12"), zero))
        .cut()
      acc += deeper.select(col("node"), col("delta12"))
    }
    acc.reduce(_ unionAll _)
      .groupBy(col("node"))
      .agg(sum(col("delta12")).cast("decimal(38,0)").as("bc12"))
      .selectExpr("node",
        s"cast(${divHE("bc12", "cast(1000000 as decimal(38,0))")} as bigint)" +
          " as bc6")
      .selectExpr("node", "bc6", "cast(bc6 as double) / 1e6 as bc")
      .orderBy("node")
  }

  private def betweennessOracle: String = {
    val numE = "v.sigma * (1000000000000::HUGEINT + w.delta12)"
    val fwd = (1 to bfsRounds).map { l =>
      s"""cand$l AS (
         |  SELECT f.s0, dir.dst AS node, sum(f.sigma) AS sigma
         |  FROM lev${l - 1} f JOIN dir ON f.node = dir.src GROUP BY 1, 2),
         |lev$l AS MATERIALIZED (
         |  SELECT c.s0, c.node, c.sigma FROM cand$l c
         |  WHERE NOT EXISTS (SELECT 1 FROM set${l - 1} x
         |                    WHERE x.s0 = c.s0 AND x.node = c.node)),
         |set$l AS MATERIALIZED (
         |  SELECT * FROM set${l - 1}
         |  UNION ALL SELECT s0, node FROM lev$l)""".stripMargin
    }.mkString(",\n")
    val bwd = ((bfsRounds - 1) to 1 by -1).map { dl =>
      s"""c$dl AS (
         |  SELECT v.s0, v.node,
         |         sum(${divHEDuck(numE, "w.sigma")}) AS delta12
         |  FROM lev$dl v JOIN dir ON v.node = dir.src
         |  JOIN d${dl + 1} w ON w.s0 = v.s0 AND w.node = dir.dst
         |  GROUP BY 1, 2),
         |d$dl AS MATERIALIZED (
         |  SELECT v.s0, v.node, v.sigma,
         |         CAST(COALESCE(c.delta12, 0) AS HUGEINT) AS delta12
         |  FROM lev$dl v LEFT JOIN c$dl c
         |    ON c.s0 = v.s0 AND c.node = v.node)""".stripMargin
    }.mkString(",\n")
    val levels = (1 to bfsRounds)
      .map(l => s"SELECT node, delta12 FROM d$l").mkString("\n  UNION ALL ")
    s"""WITH edges AS MATERIALIZED (
       |  SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
       |  FROM lineitem l1 JOIN lineitem l2
       |    ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey < l2.l_partkey),
       |dir AS MATERIALIZED (
       |  SELECT a AS src, b AS dst FROM edges
       |  UNION ALL SELECT b, a FROM edges),
       |lev0 AS MATERIALIZED (
       |  SELECT DISTINCT src AS s0, src AS node, CAST(1 AS HUGEINT) AS sigma
       |  FROM dir WHERE src % 101 = 0),
       |set0 AS (SELECT s0, node FROM lev0),
       |$fwd,
       |d$bfsRounds AS (
       |  SELECT s0, node, sigma, CAST(0 AS HUGEINT) AS delta12
       |  FROM lev$bfsRounds),
       |$bwd,
       |agg AS (
       |  SELECT node, sum(delta12) AS bc12 FROM (
       |  $levels) u GROUP BY node)
       |SELECT node,
       |       CAST(${divHEDuck("bc12", "1000000::HUGEINT")} AS BIGINT) AS bc6,
       |       CAST(CAST(${divHEDuck("bc12", "1000000::HUGEINT")} AS BIGINT)
       |            AS DOUBLE) / 1e6 AS bc
       |FROM agg ORDER BY node""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "graph_betweenness" -> betweenness,
    "graph_assortativity" -> assortativity,
    "graph_hits" -> hits,
    "graph_kcore" -> kcore,
    "graph_labelprop" -> labelProp,
    "graph_modularity" -> modularity,
    "graph_jaccard_neighbors" -> jaccardNeighbors,
    "graph_adamic_adar" -> adamicAdar,
    "graph_sssp" -> sssp,
    "graph_triangles" -> triangleCount,
    "graph_pagerank" -> pageRank,
    "graph_ppr" -> personalizedPageRank,
    "graph_random_walks" -> randomWalks,
    "graph_node2vec" -> node2vecWalks,
    "graph_bfs" -> bfs,
    "graph_closeness" -> closeness,
    "graph_degree_dist" -> degreeDistribution)

  val oracles: Map[String, String] = Map(
    "graph_betweenness" -> betweennessOracle,
    "graph_closeness" -> closenessOracle,
    "graph_hits" -> hitsOracle,
    "graph_kcore" -> kcoreOracle,
    "graph_labelprop" -> labelPropOracle,
    "graph_modularity" -> modularityOracle,
    "graph_assortativity" ->
      """WITH e0 AS MATERIALIZED (
        |  SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
        |  FROM lineitem l1 JOIN lineitem l2
        |    ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey < l2.l_partkey),
        |deg AS (SELECT x AS v, count(*) AS deg FROM (
        |          SELECT a AS x FROM e0 UNION ALL SELECT b FROM e0)
        |        GROUP BY 1),
        |pr AS (SELECT a AS x, b AS y FROM e0
        |       UNION ALL SELECT b, a FROM e0),
        |s AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |             sum(CAST(j.deg AS HUGEINT)) AS sj,
        |             sum(CAST(j.deg AS HUGEINT) * j.deg) AS sjj,
        |             sum(CAST(j.deg AS HUGEINT) * k.deg) AS sjk
        |      FROM pr JOIN deg j ON pr.x = j.v JOIN deg k ON pr.y = k.v)
        |SELECT n, CAST(CAST(n AS HUGEINT) * sjk - sj * sj AS DOUBLE) /
        |          CAST(CAST(n AS HUGEINT) * sjj - sj * sj AS DOUBLE) AS r
        |FROM s""".stripMargin,
    "graph_pagerank" -> pageRankOracle,
    "graph_ppr" -> pprOracle,
    "graph_random_walks" -> randomWalksOracle,
    "graph_node2vec" -> node2vecOracle,
    "graph_bfs" -> bfsOracle,
    "graph_sssp" -> ssspOracle,
    // textbook formulation of the same hub-filtered graph: the wedge
    // self-join IS the spec; hash equality proves the capped HOF
    // expansion + anti-join + division exact
    "graph_jaccard_neighbors" ->
      s"""WITH pr AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
         |e AS (SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
         |      FROM pr x JOIN pr y ON x.l_orderkey = y.l_orderkey
         |                         AND x.l_partkey < y.l_partkey),
         |und AS (SELECT a AS v, b AS n FROM e UNION ALL SELECT b, a FROM e),
         |deg AS (SELECT v, count(*) AS deg FROM und GROUP BY v),
         |keep AS (SELECT v FROM deg WHERE deg <= $JaccardDegCap),
         |undf AS (SELECT u.v, u.n FROM und u
         |         JOIN keep k1 ON u.v = k1.v JOIN keep k2 ON u.n = k2.v),
         |degf AS (SELECT v, count(*) AS degf FROM undf GROUP BY v),
         |pairs AS (
         |  SELECT u1.n AS x, u2.n AS y, CAST(count(*) AS BIGINT) AS common
         |  FROM undf u1 JOIN undf u2 ON u1.v = u2.v AND u1.n < u2.n
         |  GROUP BY 1, 2),
         |cand AS (
         |  SELECT p.x, p.y, p.common,
         |         CAST(p.common AS DOUBLE) / (dx.degf + dy.degf - p.common)
         |           AS jaccard
         |  FROM pairs p
         |  JOIN degf dx ON p.x = dx.v JOIN degf dy ON p.y = dy.v
         |  WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.a = p.x AND e.b = p.y))
         |SELECT x, y, common, jaccard FROM cand
         |ORDER BY jaccard DESC, x, y LIMIT 100""".stripMargin,
    "graph_adamic_adar" ->
      s"""WITH pr AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
         |e AS (SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
         |      FROM pr x JOIN pr y ON x.l_orderkey = y.l_orderkey
         |                         AND x.l_partkey < y.l_partkey),
         |und AS (SELECT a AS v, b AS n FROM e UNION ALL SELECT b, a FROM e),
         |deg AS (SELECT v, count(*) AS deg FROM und GROUP BY v),
         |keep AS (SELECT v FROM deg WHERE deg <= $JaccardDegCap),
         |undf AS (SELECT u.v, u.n FROM und u
         |         JOIN keep k1 ON u.v = k1.v JOIN keep k2 ON u.n = k2.v),
         |degf AS (SELECT v, count(*) AS degf FROM undf GROUP BY v),
         |wt AS (SELECT v, CAST(round_even(
         |           1.0 / ln(CAST(degf AS DOUBLE)), 6)
         |         AS DECIMAL(16,6)) AS w
         |       FROM degf WHERE degf >= 2),
         |pairs AS (
         |  SELECT u1.n AS x, u2.n AS y, CAST(count(*) AS BIGINT) AS common,
         |         sum(wt.w) AS aa
         |  FROM undf u1 JOIN undf u2 ON u1.v = u2.v AND u1.n < u2.n
         |  JOIN wt ON wt.v = u1.v
         |  GROUP BY 1, 2),
         |cand AS (
         |  SELECT x, y, common, CAST(aa AS DOUBLE) AS adamic_adar
         |  FROM pairs p
         |  WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.a = p.x AND e.b = p.y))
         |SELECT x, y, common, adamic_adar FROM cand
         |ORDER BY adamic_adar DESC, x, y LIMIT 100""".stripMargin,
    // the oracle is the textbook canonical a<b<c triangle join — no
    // orientation — so hash equality proves the oriented plan exact
    "graph_triangles" ->
      """WITH pr AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |e AS (SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
        |      FROM pr x JOIN pr y ON x.l_orderkey = y.l_orderkey
        |                         AND x.l_partkey < y.l_partkey)
        |SELECT (SELECT CAST(count(*) AS BIGINT)
        |        FROM e e1 JOIN e e2 ON e2.a = e1.a AND e2.b > e1.b
        |                  JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b)
        |         AS n_triangles,
        |       (SELECT CAST(count(*) AS BIGINT) FROM e) AS n_edges,
        |       (SELECT CAST(count(*) AS BIGINT) FROM
        |         (SELECT a AS v FROM e UNION SELECT b FROM e)) AS n_vertices""".stripMargin,
    "graph_degree_dist" ->
      """WITH pr AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |e AS (SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
        |      FROM pr x JOIN pr y ON x.l_orderkey = y.l_orderkey
        |                         AND x.l_partkey < y.l_partkey),
        |degs AS (
        |  SELECT v, CAST(count(*) AS BIGINT) AS deg FROM
        |    (SELECT a AS v FROM e UNION ALL SELECT b FROM e)
        |  GROUP BY v)
        |SELECT deg, CAST(count(*) AS BIGINT) AS n_vertices
        |FROM degs GROUP BY deg ORDER BY deg""".stripMargin)
}
