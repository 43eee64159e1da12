package graft.ext

import java.math.RoundingMode

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/** The driver-local rounds of [[Graph.pinnedRank]] and
  * [[Graph.hitsIterate]], taken when [[Graph.fitsDriver]] holds: the edge
  * list is collected once and every pinned step runs in the JVM, BIT-
  * IDENTICAL to the distributed rounds. Identity holds by construction,
  * not by tolerance — each step goes through the same Spark classes the
  * distributed plan evaluates:
  *  - a decimal cast is `Decimal(x).changePrecision(p, s)` (HALF_UP);
  *  - decimal → double is `Decimal.toDouble`;
  *  - `bround(x, 12)` on a double is the `BigDecimal.valueOf` HALF_EVEN
  *    rescale Spark's codegen emits;
  *  - a decimal sum is an exact unscaled-long sum (`Math.addExact`, so a
  *    sum past a long throws instead of wrapping), which makes it
  *    order-independent like Spark's.
  * Vertex ids are bigint (the co-purchase key type). Both kernels return
  * a LocalRelation, sorted by node, whose schema matches the distributed
  * result's; the callers keep their final projection in Spark. */
private[ext] object DriverRounds {

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

  /** [[Graph.pinnedRank]]'s rounds over canonical `edges`, `seed` read
    * from the one collect: returns (node, deg, rank). Every vertex of the
    * symmetric edge list is the target of its own edges, so each round's
    * contribution sum is never empty (the distributed `coalesce` never
    * fires here). */
  def pinnedRank(s: SparkSession, edges: DataFrame, seed: Column => Column,
                 rounds: Int): DataFrame = {
    val rows = edges.select(col("a"), col("b"), seed(col("a")), seed(col("b")))
      .collect()
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

  /** [[Graph.hitsIterate]]'s sparse alternation over canonical (a → b)
    * `edges`, densified over every vertex: returns (node, hs, as_) with a
    * NULL where the last half-round that wrote the score did not produce
    * the node — exactly the distributed `nodes LEFT JOIN h LEFT JOIN a`. */
  def hits(s: SparkSession, edges: DataFrame, rounds: Int): DataFrame = {
    val rows = edges.select(col("a"), col("b")).collect()
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
}
