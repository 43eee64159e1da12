package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native codegen'd vector expressions (SURVEY §2.J pref. order (b)):
  * the HOF formulation (`aggregate(zip_with(...))`) is interpreted
  * (ArrayAggregate/ZipWith are CodegenFallback), which dominates the
  * similarity-search hot path; these stay inside whole-stage codegen.
  *
  * Accumulation is the same sequential left-to-right double sum as the
  * HOF version and the DuckDB oracle's parallel-unnest sum, so results
  * are bit-identical across all three formulations.
  */
abstract class VectorFold extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(t: DataType): Boolean = t match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires two array<float> arguments, " +
          s"got ${left.dataType.catalogString} and ${right.dataType.catalogString}")
  }
}

/** dot(a, b) over array<float> with double accumulation. */
case class DotProduct(left: Expression, right: Expression) extends VectorFold {
  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]; val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0; var i = 0
    while (i < n) { s += x.getFloat(i).toDouble * y.getFloat(i).toDouble; i += 1 }
    s
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n"); val s = ctx.freshName("s")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += (double) $a.getFloat($i) * (double) $b.getFloat($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** cosine(a, b) = dot/(sqrt(|a|²)·sqrt(|b|²)) in ONE pass over both
  * arrays (the HOF version walks them three times). */
case class CosineSimilarity(left: Expression, right: Expression) extends VectorFold {
  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]; val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dab = 0.0; var daa = 0.0; var dbb = 0.0; var i = 0
    while (i < n) {
      val va = x.getFloat(i).toDouble; val vb = y.getFloat(i).toDouble
      dab += va * vb; daa += va * va; dbb += vb * vb; i += 1
    }
    dab / (math.sqrt(daa) * math.sqrt(dbb))
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n")
      val dab = ctx.freshName("dab"); val daa = ctx.freshName("daa")
      val dbb = ctx.freshName("dbb")
      val va = ctx.freshName("va"); val vb = ctx.freshName("vb")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dab = 0.0; double $daa = 0.0; double $dbb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $va = (double) $a.getFloat($i);
         |  double $vb = (double) $b.getFloat($i);
         |  $dab += $va * $vb; $daa += $va * $va; $dbb += $vb * $vb;
         |}
         |${ev.value} = $dab / (java.lang.Math.sqrt($daa) * java.lang.Math.sqrt($dbb));
       """.stripMargin
    })
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Count of common elements between two SORTED array<bigint> columns —
  * the near-dup verify-stage hot loop. Spark's `array_intersect` builds a
  * hash set and materializes the intersected array per row; candidate
  * verification only needs |A ∩ B|, and over pre-sorted arrays a
  * two-pointer merge is allocation-free and stays inside whole-stage
  * codegen. Inputs must be ascending-sorted (`array_sort`); set semantics
  * assume distinct elements (array_distinct upstream).
  */
case class SortedIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.IntegerType
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(t: DataType): Boolean = t match {
      case ArrayType(org.apache.spark.sql.types.LongType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires two array<bigint> arguments, " +
          s"got ${left.dataType.catalogString} and ${right.dataType.catalogString}")
  }
  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]; val y = b.asInstanceOf[ArrayData]
    val n = x.numElements(); val m = y.numElements()
    var i = 0; var j = 0; var c = 0
    while (i < n && j < m) {
      val va = x.getLong(i); val vb = y.getLong(j)
      if (va == vb) { c += 1; i += 1; j += 1 }
      else if (va < vb) i += 1
      else j += 1
    }
    c
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val n = ctx.freshName("n"); val m = ctx.freshName("m")
      val c = ctx.freshName("c")
      val va = ctx.freshName("va"); val vb = ctx.freshName("vb")
      s"""
         |int $n = $a.numElements(); int $m = $b.numElements();
         |int $i = 0; int $j = 0; int $c = 0;
         |while ($i < $n && $j < $m) {
         |  long $va = $a.getLong($i); long $vb = $b.getLong($j);
         |  if ($va == $vb) { $c++; $i++; $j++; }
         |  else if ($va < $vb) { $i++; } else { $j++; }
         |}
         |${ev.value} = $c;
       """.stripMargin
    })
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Per-row MinHash signature over a pre-hashed word-set column
  * (array<bigint> → array<bigint> of length `numHashes`) — the
  * shuffle-free form of the [[MinHashAgg]] aggregate: when the distinct
  * word hashes are already materialized per document (the dedup cluster
  * path computes them once for fingerprinting AND verification), the
  * signature is a pure row-local fold, so no explode and no extra
  * aggregation exchange is needed. Uses the same splitmix64 derivation
  * as [[MinHashAgg.mix]], so both forms produce identical signatures.
  */
case class MinHashArray(child: Expression, numHashes: Int) extends UnaryExpression {
  override def prettyName: String = "graft_minhash_array"
  override def dataType: DataType = ArrayType(org.apache.spark.sql.types.LongType,
    containsNull = false)
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(org.apache.spark.sql.types.LongType, _) if numHashes > 0 =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case _ =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires an array<bigint> argument and numHashes > 0, " +
            s"got ${child.dataType.catalogString} / $numHashes")
    }
  override def nullSafeEval(a: Any): Any =
    MinHashArray.compute(a.asInstanceOf[ArrayData], numHashes)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.MinHashArray.compute($a, $numHashes);")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MinHashArray {
  /** Same loop as [[MinHashAgg.update]] folded over one array: k running
    * minima of the splitmix64-mixed word hashes. Empty input yields the
    * empty-buffer signature (all Long.MaxValue), matching the aggregate
    * over zero rows. */
  def compute(hs: ArrayData, k: Int): ArrayData = {
    val buf = Array.fill(k)(Long.MaxValue)
    val n = hs.numElements()
    var i = 0
    while (i < n) {
      val h = hs.getLong(i)
      var j = 0
      while (j < k) {
        val m = MinHashAgg.mix(h, j)
        if (m < buf(j)) buf(j) = m
        j += 1
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(buf)
  }
}

/** Column wrappers + SQL registration.
  *
  * Column construction goes through the public `call_function` API over
  * the registered names (the Column<->Expression bridge is private[sql]
  * in Spark 4), so callers must [[VectorFunctions.register]] the session
  * first — the `SparkEntry.queries` wrapper does so for every key.
  */
object VectorFunctions {

  /** Resolve a builder argument that must be a foldable integral literal
    * (e.g. `graft_minhash(h, 16)`): a column reference or non-integral
    * type must fail at analysis time with a named error, not surface as a
    * ClassCastException/NPE from `eval(null)` at plan time. */
  private[graft] def constIntArg(fn: String, arg: String, e: Expression): Int = {
    def bad(what: String): Nothing = throw new IllegalArgumentException(
      s"$fn: argument <$arg> must be a foldable integer literal, got $what " +
        s"(${e.sql}). Pass a plain INT constant, e.g. $fn(x, 16).")
    if (!e.foldable) bad("a non-foldable expression")
    e.eval(null) match {
      case i: Int => i
      case l: Long if l >= Int.MinValue && l <= Int.MaxValue => l.toInt
      case s: Short => s.toInt
      case b: Byte => b.toInt
      case null => bad("NULL")
      case other => bad(s"type ${e.dataType.catalogString} value $other")
    }
  }

  def dot_product(a: Column, b: Column): Column =
    org.apache.spark.sql.functions.call_function("graft_dot", a, b)
  def cosine_similarity(a: Column, b: Column): Column =
    org.apache.spark.sql.functions.call_function("graft_cosine", a, b)
  def simhash(wordHash: Column): Column =
    org.apache.spark.sql.functions.call_function("graft_simhash", wordHash)
  def minhash(wordHash: Column, numHashes: Int): Column =
    org.apache.spark.sql.functions.call_function("graft_minhash", wordHash,
      org.apache.spark.sql.functions.lit(numHashes))
  def intersect_count(a: Column, b: Column): Column =
    org.apache.spark.sql.functions.call_function("graft_intersect_count", a, b)
  def jaro_winkler(a: Column, b: Column): Column =
    org.apache.spark.sql.functions.call_function("graft_jaro_winkler", a, b)
  def minhash_array(wordHashes: Column, numHashes: Int): Column =
    org.apache.spark.sql.functions.call_function("graft_minhash_array", wordHashes,
      org.apache.spark.sql.functions.lit(numHashes))
  def topk_by(ord: Column, id: Column, k: Int): Column =
    org.apache.spark.sql.functions.call_function("graft_topk_by", ord, id,
      org.apache.spark.sql.functions.lit(k))
  /** Registry-FREE Column form (r14): built directly over the Catalyst
    * expression via GraftSqlBridge, so Column-level helpers can use the
    * codegen hex parse with no session registration choreography. The
    * SQL name `graft_hex_long` is also registered below for expr()/SQL
    * call sites. */
  def hex_long(s: Column, pos: Int, len: Int): Column =
    org.apache.spark.sql.GraftSqlBridge.column(
      HexToLong(org.apache.spark.sql.GraftSqlBridge.expression(s), pos, len))
  def zorder(a: Column, b: Column): Column =
    org.apache.spark.sql.functions.call_function("graft_zorder", a, b)
  def hilbert(a: Column, b: Column): Column =
    org.apache.spark.sql.functions.call_function("graft_hilbert", a, b)

  /** Sessions already registered (WEAK keys — the memo must never pin a
    * stopped session in memory). r15, ADVICE: the SparkEntry.queries
    * wrapper calls register on EVERY query invocation; re-creating ~15
    * temp functions per call mutates shared registry state per query and
    * sprays SimpleFunctionRegistry WARNs over the captured stdout tail. */
  private val registeredSessions =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, java.lang.Boolean]())

  /** Every graft SQL function: its name, the expression class it builds
    * (the `DESCRIBE FUNCTION` class) and its builder. [[register]] and
    * [[graft.GraftExtensions]] both loop over this one table, so a library
    * session and an extensions-only session see the same functions. */
  private[graft] val table: Seq[(String, Class[_], Seq[Expression] => Expression)] = {
    import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    Seq(
      ("graft_dot", classOf[DotProduct], e => DotProduct(e(0), e(1))),
      ("graft_cosine", classOf[CosineSimilarity], e => CosineSimilarity(e(0), e(1))),
      ("graft_intersect_count", classOf[SortedIntersectCount],
        e => SortedIntersectCount(e(0), e(1))),
      ("graft_jaro_winkler", classOf[JaroWinkler], e => JaroWinkler(e(0), e(1))),
      // Spark ships BloomFilterAggregate/BloomFilterMightContain for its
      // runtime join filters but does NOT register them as SQL functions;
      // surface them for the Bloom decontamination path (probe sets too
      // large to broadcast exactly).
      ("graft_bloom_agg", classOf[BloomFilterAggregate],
        e => new BloomFilterAggregate(e(0), e(1), e(2)).toAggregateExpression()),
      ("graft_bloom_contains", classOf[BloomFilterMightContain],
        e => BloomFilterMightContain(e(0), e(1))),
      ("graft_simhash", classOf[SimHashAgg], e => SimHashAgg(e(0)).toAggregateExpression()),
      ("graft_minhash", classOf[MinHashAgg], e => MinHashAgg(e(0),
        constIntArg("graft_minhash", "num_hashes", e(1))).toAggregateExpression()),
      ("graft_minhash_array", classOf[MinHashArray], e => MinHashArray(e(0),
        constIntArg("graft_minhash_array", "num_hashes", e(1)))),
      ("graft_topk_by", classOf[TopKByAgg], e => TopKByAgg(e(0), e(1),
        constIntArg("graft_topk_by", "k", e(2))).toAggregateExpression()),
      ("graft_hex_long", classOf[HexToLong], e => HexToLong(e(0),
        constIntArg("graft_hex_long", "pos", e(1)),
        constIntArg("graft_hex_long", "len", e(2)))),
      ("graft_zorder", classOf[ZOrderValue], e => ZOrderValue(e(0), e(1))),
      ("graft_hilbert", classOf[HilbertValue], e => HilbertValue(e(0), e(1))),
      ("graft_product", classOf[ProductAgg], e => ProductAgg(e(0)).toAggregateExpression()),
      ("graft_session_id", classOf[SessionId], e => SessionId(e(0), e(1))),
      ("graft_theta", classOf[ThetaSketchAgg], e => ThetaSketchAgg(e(0),
        constIntArg("graft_theta", "lg_k", e(1))).toAggregateExpression()))
  }

  /** Idempotent SQL registration of [[table]] — memoized per session. */
  def register(spark: SparkSession): Unit = {
    if (registeredSessions.put(spark, java.lang.Boolean.TRUE) != null) return
    val reg = spark.sessionState.functionRegistry
    table.foreach { case (name, _, build) =>
      reg.createOrReplaceTempFunction(name, build, "built-in")
    }
  }
}
