package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Probabilistic record linkage [N] — the Fellegi–Sunter model (1969),
  * the entity-resolution decision layer the string-similarity dedup
  * family feeds into: candidate pairs from BLOCKING, per-field
  * agreement weights log₂(m/u) (m = P(agree | match), u = P(agree |
  * non-match)), linkage decision by total-score threshold.
  *
  * The corpus plants its own ground truth: every 5th customer gets a
  * "dirty" duplicate (md5-derived pseudo-name with the last two chars
  * transposed, balance nudged +0.37, same segment/nation), so the
  * linkage must find exactly those pairs among all same-nation
  * candidates — and ErSpec asserts it does, at perfect precision and
  * recall on the planted set.
  *
  * Scale + determinism shape: blocking on nation bounds the pair
  * expansion (never |A|×|B|); the name comparator is the codegen
  * [[graft.functions.JaroWinkler]] expression proven IEEE-bit-identical
  * to DuckDB's, so threshold compares agree exactly; all m/u weights
  * are PINNED 4dp literals and the score is their exact decimal sum —
  * no runtime logs, no float accumulation. */
object EntityResolution extends graft.QueryModule {

  // log2(m/u) agreement / disagreement weights (pinned literals):
  //   name  m=.9  u=.01 -> +6.4919 ; disagree log2(.1/.99) -> -3.3099
  //   seg   m=.95 u=.20 -> +2.2479 ; disagree log2(.05/.8) -> -4.0000
  //   bal   m=.9  u=.05 -> +4.1699 ; disagree log2(.1/.95) -> -3.2479
  private val wName = ("6.4919", "-3.3099")
  private val wSeg = ("2.2479", "-4.0000")
  private val wBal = ("4.1699", "-3.2479")
  private val threshold = "6.0"

  private def fellegiSunter(s: SparkSession, d: String): DataFrame = {
    val base = Tables.customer(s, d).selectExpr(
      "c_custkey as id",
      "substring(md5(concat('nm:', cast(c_custkey as string))), 1, 12) as nm",
      "c_mktsegment as seg",
      "cast(c_acctbal as decimal(12,2)) as bal",
      "c_nationkey as blk")
    val dups = base.filter(col("id") % 5 === 0).selectExpr(
      "id + 1000000 as id",
      "concat(substring(nm, 1, 10), substring(nm, 12, 1)," +
        " substring(nm, 11, 1)) as nm",
      "seg", "cast(bal + 0.37 as decimal(12,2)) as bal", "blk")
    val cand = base.as("a").join(dups.as("b"), col("a.blk") === col("b.blk"))
      .selectExpr("a.id as a_id", "b.id - 1000000 as b_src", "b.id as b_id",
        "graft_jaro_winkler(a.nm, b.nm) as jw",
        "a.seg = b.seg as seg_eq",
        "abs(a.bal - b.bal) <= 1.00 as bal_near")
    cand.selectExpr("a_id", "b_src", "jw",
        s"cast(case when jw >= 0.92 then ${wName._1} else ${wName._2} end" +
          s" as decimal(8,4))" +
          s" + cast(case when seg_eq then ${wSeg._1} else ${wSeg._2} end" +
          s" as decimal(8,4))" +
          s" + cast(case when bal_near then ${wBal._1} else ${wBal._2} end" +
          s" as decimal(8,4)) as score")
      .filter(expr(s"score > $threshold"))
      .selectExpr("a_id", "b_src", "jw", "cast(score as double) as score")
      .orderBy("a_id", "b_src")
  }

  private val fellegiSunterOracle =
    s"""WITH base AS (
       |  SELECT c_custkey AS id,
       |         substr(md5('nm:' || CAST(c_custkey AS VARCHAR)), 1, 12) AS nm,
       |         c_mktsegment AS seg,
       |         CAST(c_acctbal AS DECIMAL(12,2)) AS bal,
       |         c_nationkey AS blk
       |  FROM customer),
       |dups AS (
       |  SELECT id + 1000000 AS id,
       |         substr(nm, 1, 10) || substr(nm, 12, 1) || substr(nm, 11, 1)
       |           AS nm,
       |         seg, CAST(bal + 0.37 AS DECIMAL(12,2)) AS bal, blk
       |  FROM base WHERE id % 5 = 0),
       |cand AS (
       |  SELECT a.id AS a_id, b.id - 1000000 AS b_src,
       |         jaro_winkler_similarity(a.nm, b.nm) AS jw,
       |         a.seg = b.seg AS seg_eq,
       |         abs(a.bal - b.bal) <= 1.00 AS bal_near
       |  FROM base a JOIN dups b ON a.blk = b.blk),
       |scored AS (
       |  SELECT a_id, b_src, jw,
       |         CAST(CASE WHEN jw >= 0.92 THEN ${wName._1}
       |              ELSE ${wName._2} END AS DECIMAL(8,4))
       |         + CAST(CASE WHEN seg_eq THEN ${wSeg._1}
       |                ELSE ${wSeg._2} END AS DECIMAL(8,4))
       |         + CAST(CASE WHEN bal_near THEN ${wBal._1}
       |                ELSE ${wBal._2} END AS DECIMAL(8,4)) AS score
       |  FROM cand)
       |SELECT a_id, b_src, jw, CAST(score AS DOUBLE) AS score
       |FROM scored WHERE score > $threshold
       |ORDER BY a_id, b_src""".stripMargin

  /** Sorted-neighborhood blocking (Hernández & Stolfo 1995) [N] — the
    * other classic ER candidate generator: sort all records by a key
    * that places near-duplicates adjacently, then only compare each
    * record to its `w-1` successors in sort order. Candidates are
    * O(n·w) instead of the O(n²/blocks) of equality blocking, and it
    * catches pairs equality blocking misses (records whose block key
    * itself is dirty).
    *
    * Same planted-duplicate corpus as [[fellegiSunter]]: the dirty
    * twin transposes the last two name chars, so the first 10 chars
    * agree and the sort places the pair adjacently.
    *
    * Scale shape: the textbook global sort is replaced by the
    * two-level form real systems use — records hash into bounded
    * PREFIX blocks (first hex char of the sort key; a real pipeline
    * uses more prefix chars as n grows) and the neighborhood is
    * confined to the block, so ranking is a per-block window, never a
    * single-partition global sort. Pairing is an EQUI-join on
    * (block, rank + offset) with the offsets exploded — no range join,
    * no n² — and the comparator is the codegen IEEE-bit-identical
    * [[graft.functions.JaroWinkler]]. */
  private def sortedNeighborhood(s: SparkSession, d: String): DataFrame = {
    val win = 4 // neighborhood width w: compare to the 3 successors
    val base = Tables.customer(s, d).selectExpr(
      "c_custkey as id",
      "substring(md5(concat('nm:', cast(c_custkey as string))), 1, 12) as nm")
    val dups = base.filter(col("id") % 5 === 0).selectExpr(
      "id + 1000000 as id",
      "concat(substring(nm, 1, 10), substring(nm, 12, 1)," +
        " substring(nm, 11, 1)) as nm")
    val all = base.unionByName(dups)
      .withColumn("pfx", expr("substring(nm, 1, 1)"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("pfx")).orderBy(col("nm"), col("id"))
    val ranked = all.withColumn("rk", row_number().over(w))
    val offs = ranked.select(col("pfx"), col("rk"), col("id"), col("nm"),
      explode(expr(s"sequence(1, ${win - 1})")).as("off"))
      .withColumn("rk2", col("rk") + col("off"))
    offs.as("a")
      .join(ranked.as("b"),
        col("a.pfx") === col("b.pfx") && col("a.rk2") === col("b.rk"))
      .selectExpr(
        "least(a.id, b.id) as a_id", "greatest(a.id, b.id) as b_id",
        "graft_jaro_winkler(a.nm, b.nm) as jw")
      .filter(col("jw") >= 0.92)
      .orderBy("a_id", "b_id")
  }

  private val sortedNeighborhoodOracle =
    """WITH base AS (
      |  SELECT c_custkey AS id,
      |         substr(md5('nm:' || CAST(c_custkey AS VARCHAR)), 1, 12) AS nm
      |  FROM customer),
      |dups AS (
      |  SELECT id + 1000000 AS id,
      |         substr(nm, 1, 10) || substr(nm, 12, 1) || substr(nm, 11, 1)
      |           AS nm
      |  FROM base WHERE id % 5 = 0),
      |allr AS (
      |  SELECT id, nm, substr(nm, 1, 1) AS pfx FROM base
      |  UNION ALL
      |  SELECT id, nm, substr(nm, 1, 1) AS pfx FROM dups),
      |ranked AS (
      |  SELECT id, nm, pfx,
      |         row_number() OVER (PARTITION BY pfx ORDER BY nm, id) AS rk
      |  FROM allr),
      |pairs AS (
      |  SELECT a.id AS ida, b.id AS idb,
      |         jaro_winkler_similarity(a.nm, b.nm) AS jw
      |  FROM ranked a
      |  JOIN ranked b
      |    ON a.pfx = b.pfx AND b.rk - a.rk BETWEEN 1 AND 3)
      |SELECT least(ida, idb) AS a_id, greatest(ida, idb) AS b_id, jw
      |FROM pairs WHERE jw >= 0.92
      |ORDER BY a_id, b_id""".stripMargin

  /** End-to-end entity resolution [N]: the sorted-neighborhood candidate
    * pairs ([[sortedNeighborhood]], jw ≥ 0.92) become match edges, and
    * transitive closure over them — [[graft.ext.Dedup.connectedComponents]],
    * the same exact CC the near-dup family ships — merges records
    * into ENTITIES. This is the layer the pair generators feed in a real
    * MDM pipeline: pairs alone under-merge (A~B, B~C but A≁C directly).
    * Output is one row per multi-record entity: representative id (min),
    * size, sorted member list.
    *
    * Scale shape: candidate generation is the O(n·w) block-window pass;
    * closure finishes in CC's min-label phase (entity clusters have
    * diameter ~1-2, so no star contraction); the final collect_list is
    * bounded by cluster size — entities are small by construction. */
  private def resolutionClusters(s: SparkSession, d: String): DataFrame = {
    val pairs = sortedNeighborhood(s, d)
      .select(col("a_id").as("i"), col("b_id").as("j"))
    val base = Tables.customer(s, d).selectExpr("c_custkey as id")
    val nodes = base.unionByName(
      base.filter(col("id") % 5 === 0).selectExpr("id + 1000000 as id"))
    graft.ext.Dedup.connectedComponents(nodes, pairs, "id", "i", "j")
      .groupBy(col("cluster_id").as("entity_id"))
      .agg(count(lit(1)).as("n_records"),
        expr("array_join(transform(sort_array(collect_list(id))," +
          " x -> cast(x as string)), ',')").as("members"))
      .filter(col("n_records") >= 2)
      .orderBy("entity_id")
  }

  private val resolutionClustersOracle =
    """WITH RECURSIVE base AS (
      |  SELECT c_custkey AS id,
      |         substr(md5('nm:' || CAST(c_custkey AS VARCHAR)), 1, 12) AS nm
      |  FROM customer),
      |dups AS (
      |  SELECT id + 1000000 AS id,
      |         substr(nm, 1, 10) || substr(nm, 12, 1) || substr(nm, 11, 1)
      |           AS nm
      |  FROM base WHERE id % 5 = 0),
      |allr AS (
      |  SELECT id, nm, substr(nm, 1, 1) AS pfx FROM base
      |  UNION ALL
      |  SELECT id, nm, substr(nm, 1, 1) AS pfx FROM dups),
      |ranked AS (
      |  SELECT id, nm, pfx,
      |         row_number() OVER (PARTITION BY pfx ORDER BY nm, id) AS rk
      |  FROM allr),
      |pairs AS (
      |  SELECT least(a.id, b.id) AS i, greatest(a.id, b.id) AS j
      |  FROM ranked a JOIN ranked b
      |    ON a.pfx = b.pfx AND b.rk - a.rk BETWEEN 1 AND 3
      |  WHERE jaro_winkler_similarity(a.nm, b.nm) >= 0.92),
      |edges AS (SELECT i AS src, j AS dst FROM pairs
      |          UNION ALL SELECT j, i FROM pairs),
      |nodes AS (SELECT id FROM allr),
      |reach(id, r) AS (
      |  SELECT id, id FROM nodes
      |  UNION
      |  SELECT e.dst, reach.r FROM edges e JOIN reach ON e.src = reach.id),
      |lab AS (SELECT id, min(r) AS entity_id FROM reach GROUP BY id)
      |SELECT entity_id, CAST(count(*) AS BIGINT) AS n_records,
      |       string_agg(CAST(id AS VARCHAR), ',' ORDER BY id) AS members
      |FROM lab GROUP BY entity_id HAVING count(*) >= 2
      |ORDER BY entity_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "er_fellegi_sunter" -> fellegiSunter,
    "er_sorted_neighborhood" -> sortedNeighborhood,
    "er_resolution_clusters" -> resolutionClusters)

  val oracles: Map[String, String] = Map(
    "er_fellegi_sunter" -> fellegiSunterOracle,
    "er_sorted_neighborhood" -> sortedNeighborhoodOracle,
    "er_resolution_clusters" -> resolutionClustersOracle)
}
