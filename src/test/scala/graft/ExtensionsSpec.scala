package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The cluster-deploy contract: `--conf
  * spark.sql.extensions=graft.GraftExtensions` must hand a session the
  * WHOLE graft surface — scalar functions, the as-of table function, and
  * the conf-gated range-join rewrite — with no Scala registration calls.
  * Built here via `withExtensions` on a sibling session over the shared
  * SparkContext (the config-string path runs the same injector). */
class ExtensionsSpec extends AnyFunSuite {

  /** `body` on a session built with the extensions alone. */
  private def withExtensionsSession(body: SparkSession => Unit): Unit = {
    val orig = TestSpark.spark // ensure the shared context exists
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      body(SparkSession.builder()
        .master("local[4]")
        .config("spark.sql.shuffle.partitions", 4)
        .withExtensions(new GraftExtensions)
        .getOrCreate())
    } finally {
      // restore the shared session for later suites; never stop the new
      // one (it shares orig's SparkContext)
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      SparkSession.setActiveSession(orig)
      SparkSession.setDefaultSession(orig)
    }
  }

  test("one extensions conf gives a session functions + TVF + optimizer rule") {
    withExtensionsSession { s2 =>
      import s2.implicits._

      // 1. injected scalar function, pure SQL, no register() call
      val c = s2.sql(
        "SELECT graft_cosine(array(1.0F, 0.0F), array(1.0F, 0.0F)) AS c")
        .collect()(0).getDouble(0)
      assert(math.abs(c - 1.0) < 1e-12)

      // 2. injected table function: native as-of through SQL text
      Seq((1L, 10L, 1L, 100.0), (1L, 20L, 2L, 200.0))
        .toDF("user_id", "ts", "event_id", "value")
        .createOrReplaceTempView("ext_series")
      Seq((1L, 15L)).toDF("user_id", "ts")
        .createOrReplaceTempView("ext_probes")
      val asof = s2.sql(
        """SELECT last_value FROM graft_asof('ext_probes', 'ext_series',
          |  'user_id', 'ts', 'event_id', 'value')""".stripMargin)
        .collect()(0).getDouble(0)
      assert(asof == 100.0, s"as-of at t=15 must see the t=10 row, got $asof")

      // 3. injected optimizer rule: BETWEEN join re-plans when opted in
      s2.conf.set(graft.rules.RewriteRangeJoin.WidthConf, "10.0")
      try {
        val pts = Seq((1L, 5.0), (2L, 25.0)).toDF("pid", "v")
        val iv = Seq((10L, 0.0, 9.0), (20L, 20.0, 30.0)).toDF("iid", "lo", "hi")
        val joined = pts.join(iv, col("v") >= col("lo") && col("v") <= col("hi"))
          .select(col("pid"), col("iid")).orderBy("pid")
        assert(joined.queryExecution.executedPlan.toString
          .contains("__graft_bucket"), "rule not injected")
        assert(joined.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ==
          Seq((1L, 10L), (2L, 20L)))
      } finally s2.conf.unset(graft.rules.RewriteRangeJoin.WidthConf)
    }
  }

  test("every graft SQL function resolves on an extensions-only session") {
    withExtensionsSession { s2 =>
      val reg = s2.sessionState.functionRegistry
      val missing = graft.functions.VectorFunctions.table.map(_._1)
        .filterNot(n => reg.functionExists(FunctionIdentifier(n)))
      assert(missing.isEmpty, s"not injected by GraftExtensions: $missing")
      // and the injected builders evaluate through SQL text
      val r = s2.sql("SELECT graft_zorder(3, 5), graft_hex_long('00ff', 1, 4)")
        .collect()(0)
      assert(!r.isNullAt(0) && r.getLong(1) == 255L)
    }
  }
}
