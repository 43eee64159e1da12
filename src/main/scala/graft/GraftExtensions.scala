package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** SparkSessionExtensions entry point (SURVEY §2.J/§4): makes the graft
  * native expressions first-class session functions so a cluster deploy
  * only needs `--conf spark.sql.extensions=graft.GraftExtensions`.
  * (Library callers can equivalently use
  * `graft.functions.VectorFunctions.register(spark)`; both install the one
  * function table, `VectorFunctions.table`.)
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => graft.rules.CollapseNestedBround)
    // opt-in via spark.graft.rangejoin.bucketWidth: BETWEEN joins with no
    // equi key re-plan as binned equi-joins instead of nested loops
    ext.injectOptimizerRule(_ => graft.rules.RewriteRangeJoin)
    // opt-in via spark.graft.mv.{summaryPath,sourcePath}: eligible fact
    // aggregates re-plan to read the materialized summary instead
    ext.injectOptimizerRule(_ => graft.rules.RewriteAggregateToSummary)
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
    // SQL-text surface for the native as-of join:
    //   SELECT * FROM graft_asof('probes_v', 'series_v', 'k', 't', 'tie', 'v')
    ext.injectTableFunction((
      FunctionIdentifier("graft_asof"),
      new ExpressionInfo(classOf[graft.plans.AsOfJoin].getName, "graft_asof"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        graft.plans.AsOf.sqlBuilder(exprs)))
    graft.functions.VectorFunctions.table.foreach { case (name, cls, build) =>
      ext.injectFunction((FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), build))
    }
  }
}
