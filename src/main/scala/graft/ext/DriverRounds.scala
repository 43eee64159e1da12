package graft.ext

import java.math.RoundingMode

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.types._

/** The driver-local fixpoints: [[Graph.pinnedRank]], [[Graph.hitsIterate]]
  * and [[Dedup.connectedComponents]] below Spark's broadcast threshold.
  *
  * One gate, [[collectBounded]], decides for all three, and the collect
  * that decides is the kernel's input: the relation a kernel needs is
  * collected once when Spark's size estimate says it would broadcast, and
  * the kernel then runs every round in the JVM and returns a LocalRelation
  * whose schema matches the distributed result's. Above the gate the
  * callers run their distributed rounds unchanged — the 100 TB path.
  *
  * The rank kernels are BIT-IDENTICAL to the distributed rounds. Identity
  * holds by construction, not by tolerance — each step goes through the
  * same Spark classes the distributed plan evaluates:
  *  - a decimal cast is `Decimal(x).changePrecision(p, s)` (HALF_UP);
  *  - decimal → double is `Decimal.toDouble`;
  *  - `bround(x, 12)` on a double is the `BigDecimal.valueOf` HALF_EVEN
  *    rescale Spark's codegen emits;
  *  - a decimal sum is an exact unscaled-long sum (`Math.addExact`, so a
  *    sum past a long throws instead of wrapping), which makes it
  *    order-independent like Spark's.
  * Their vertex ids are bigint (the co-purchase key type), and their
  * results are sorted by node; the callers keep their final projection in
  * Spark. Connected components is integer-only: union-find over the
  * collected ids gives each node its component's minimum id, which is
  * what the distributed rounds converge to. */
private[graft] object DriverRounds {

  /** The one driver-local gate: `rel`'s rows, collected, when Spark would
    * broadcast it — at most `cap = autoBroadcastJoinThreshold /
    * EstimationUtils.getSizePerRow(rel's output)` rows — else None.
    *
    * It is one bounded collect, `rel.limit(cap + 1)`: the same decision
    * as row count × row size ≤ threshold, without a count before the
    * collect, and the driver never holds more than cap + 1 rows.
    * `executeTake` scans one partition in its first job and up to 4× as
    * many in each further one, stopping once it has cap + 1 rows: two
    * jobs for a 4-partition relation under the cap, and about one
    * partition for a relation far over it. A negative threshold turns
    * every local path off and runs no job. The cap is held below
    * `Int.MaxValue`, the most rows `limit` takes. */
  private[graft] def collectBounded(s: SparkSession, rel: DataFrame): Option[Array[Row]] = {
    val threshold = s.sessionState.conf.autoBroadcastJoinThreshold
    if (threshold < 0) None
    else {
      val perRow = EstimationUtils.getSizePerRow(rel.queryExecution.analyzed.output)
      val cap = (BigInt(threshold) / perRow).min(Int.MaxValue - 1).toInt
      val rows = rel.limit(cap + 1).collect()
      if (rows.length <= cap) Some(rows) else None
    }
  }

  /** A collected edge list, its endpoints as indexes into the sorted
    * distinct vertex ids. Duplicate rows are kept: the distributed
    * rounds count them, so the mirror does too. */
  private final class Edges(val ids: Array[Long], val a: Array[Int], val b: Array[Int])

  private def index(as: Array[Long], bs: Array[Long]): Edges = {
    val ids = (as ++ bs).distinct.sorted
    def at(v: Long) = java.util.Arrays.binarySearch(ids, v)
    new Edges(ids, as.map(at), bs.map(at))
  }

  /** Spark's `bround(x, 12)` of a double, as its codegen computes it. */
  private def bround12(x: Double): Double =
    if (x.isNaN || x.isInfinite) x
    else java.math.BigDecimal.valueOf(x).setScale(12, RoundingMode.HALF_EVEN)
      .doubleValue

  /** `d` changed to decimal(p, s) HALF_UP, as an unscaled long; Spark's
    * ANSI cast throws on overflow, and so does this. */
  private def rescale(d: Decimal, p: Int, s: Int): Long = {
    if (!d.changePrecision(p, s))
      throw new ArithmeticException(s"$d does not fit decimal($p, $s)")
    d.toUnscaledLong
  }

  /** `CAST(x AS DECIMAL(p, s))` of a double, as an unscaled long. */
  private def toDecimal(x: Double, p: Int, s: Int): Long = rescale(Decimal(x), p, s)

  /** A decimal(p, s) held as an unscaled long, as a double. */
  private def toDouble(unscaled: Long, p: Int, s: Int): Double =
    Decimal(unscaled, p, s).toDouble

  /** The `node` field of a result over `edges`: nullable as the
    * distributed union of its `a` and `b` columns is. */
  private def nodeField(edges: DataFrame): StructField =
    StructField("node", LongType,
      edges.schema("a").nullable || edges.schema("b").nullable)

  /** [[Graph.pinnedRank]]'s rounds over the collected canonical edges
    * `rows` = (a, b, seed(a), seed(b)) of `edges`: returns (node, deg,
    * rank). Every vertex of the symmetric edge list is the target of its
    * own edges, so each round's contribution sum is never empty (the
    * distributed `coalesce` never fires here). */
  def pinnedRank(s: SparkSession, edges: DataFrame, rows: Array[Row],
                 rounds: Int): DataFrame = {
    val g = index(rows.map(_.getLong(0)), rows.map(_.getLong(1)))
    val n = g.ids.length
    val isSeed = new Array[Boolean](n)
    val deg = new Array[Long](n)
    for (e <- rows.indices) {
      isSeed(g.a(e)) = rows(e).getBoolean(2); isSeed(g.b(e)) = rows(e).getBoolean(3)
      deg(g.a(e)) += 1; deg(g.b(e)) += 1
    }
    val nS = isSeed.count(identity).toDouble
    var rank = Array.tabulate(n)(i => if (isSeed(i)) bround12(1.0 / nS) else 0.0)
    for (_ <- 1 to rounds) {
      // decimal(24,12) per-edge contribution: the same for every edge out
      // of a vertex, so computed once per vertex
      val c = Array.tabulate(n)(i => toDecimal(bround12(rank(i) / deg(i)), 24, 12))
      val sc = new Array[Long](n)
      for (e <- rows.indices) {
        sc(g.b(e)) = Math.addExact(sc(g.b(e)), c(g.a(e)))
        sc(g.a(e)) = Math.addExact(sc(g.a(e)), c(g.b(e)))
      }
      // sum(decimal(24,12)) is decimal(34,12)
      rank = Array.tabulate(n)(i => bround12(
        (if (isSeed(i)) 0.15 / nS else 0.0) + 0.85 * toDouble(sc(i), 34, 12)))
    }
    s.createDataFrame(Array.tabulate(n)(i =>
      Row(g.ids(i), deg(i), rank(i))).toSeq.asJava,
      StructType(Seq(nodeField(edges), StructField("deg", LongType),
        StructField("rank", DoubleType))))
  }

  /** [[Graph.hitsIterate]]'s sparse alternation over the collected
    * canonical (a → b) edges `rows` of `edges`, densified over every
    * vertex: returns (node, hs, as_) with a NULL where the last half-round
    * that wrote the score did not produce the node — exactly the
    * distributed `nodes LEFT JOIN h LEFT JOIN a`. */
  def hits(s: SparkSession, edges: DataFrame, rows: Array[Row], rounds: Int): DataFrame = {
    val g = index(rows.map(_.getLong(0)), rows.map(_.getLong(1)))
    val n = g.ids.length
    // a score table: decimal(13,12) unscaled per vertex, and which
    // vertices the half-round produced
    final case class Scores(v: Array[Long], has: Array[Boolean])
    // the edges from->to whose `from` has a score: round(sum, 8) HALF_UP
    // as decimal(18,8), over its max, re-pinned at 12dp as decimal(13,12)
    def halfRound(from: Array[Int], to: Array[Int], in: Scores): Scores = {
      val sum = new Array[Long](n)
      val has = new Array[Boolean](n)
      for (e <- from.indices if in.has(from(e))) {
        sum(to(e)) = Math.addExact(sum(to(e)), in.v(from(e)))
        has(to(e)) = true
      }
      // sum(decimal(13,12)) is decimal(23,12)
      val r = Array.tabulate(n)(i => if (has(i)) rescale(Decimal(sum(i), 23, 12), 18, 8) else 0L)
      val mx = toDouble(r.indices.filter(has).map(r).maxOption.getOrElse(0L), 18, 8)
      Scores(Array.tabulate(n)(i =>
        if (has(i)) toDecimal(bround12(toDouble(r(i), 18, 8) / mx), 13, 12) else 0L), has)
    }
    var h = Scores(Array.fill(n)(1000000000000L), Array.fill(n)(true))
    var a = Scores(new Array[Long](n), new Array[Boolean](n))
    for (_ <- 1 to rounds) {
      a = halfRound(g.a, g.b, h)
      h = halfRound(g.b, g.a, a)
    }
    def score(t: Scores, i: Int) =
      if (t.has(i)) Decimal(t.v(i), 13, 12).toJavaBigDecimal else null
    s.createDataFrame(Array.tabulate(n)(i =>
      Row(g.ids(i), score(h, i), score(a, i))).toSeq.asJava,
      StructType(Seq(nodeField(edges), StructField("hs", DecimalType(13, 12)),
        StructField("as_", DecimalType(13, 12)))))
  }

  private val Integral: Set[DataType] = Set(ByteType, ShortType, IntegerType, LongType)

  /** [[Dedup.connectedComponentsWithRounds]]'s local path: `edges` (i, j)
    * through [[collectBounded]] first, then the node ids `nodes`; None
    * (and the distributed rounds) whenever the two paths could differ —
    * a field of `schema` that is not integral (checked before any job),
    * either relation over the gate, a null id or endpoint, or an endpoint
    * that is not a node id. Otherwise union-find over the sorted distinct
    * ids, always hanging the larger root under the smaller (indexes are
    * in id order), so each root is its component's minimum id: one
    * (id, cluster_id) row per DISTINCT node id, as the distributed
    * round's `groupBy(id)` gives, typed by `schema`, the distributed
    * result's. */
  def components(s: SparkSession, nodes: DataFrame, edges: DataFrame,
                 schema: StructType): Option[DataFrame] = {
    def anyNull(rows: Array[Row]) = rows.exists(r => (0 until r.length).exists(r.isNullAt))
    def ids(rows: Array[Row], k: Int) = rows.map(_.getAs[Number](k).longValue)
    if (!schema.forall(f => Integral(f.dataType))) None
    else for {
      e <- collectBounded(s, edges) if !anyNull(e)
      v <- collectBounded(s, nodes) if !anyNull(v)
      id = ids(v, 0).distinct.sorted
      a = ids(e, 0).map(java.util.Arrays.binarySearch(id, _))
      b = ids(e, 1).map(java.util.Arrays.binarySearch(id, _))
      if !a.exists(_ < 0) && !b.exists(_ < 0)
    } yield {
      val parent = Array.range(0, id.length)
      def find(x: Int): Int = {
        var r = x
        while (parent(r) != r) r = parent(r)
        var y = x
        while (parent(y) != r) { val next = parent(y); parent(y) = r; y = next }
        r
      }
      for (k <- a.indices) {
        val (ra, rb) = (find(a(k)), find(b(k)))
        if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
      }
      def as(t: DataType, v: Long): Any = t match {
        case ByteType => v.toByte
        case ShortType => v.toShort
        case IntegerType => v.toInt
        case _ => v
      }
      val (idType, labelType) = (schema(0).dataType, schema(1).dataType)
      s.createDataFrame(id.indices.map(k =>
        Row(as(idType, id(k)), as(labelType, id(find(k))))).asJava, schema)
    }
  }
}
