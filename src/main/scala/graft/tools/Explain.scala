package graft.tools

/** Plan-audit tool (r14 optimization round): dump `.explain("formatted")`
  * for the given query keys to `plans/<tag>/<key>_<suffix>.txt` so plan
  * claims in OPTIMIZATION_r14.md are checkable without running Spark.
  *
  * Usage: runMain graft.tools.Explain <suffix> <key>[,<key>...]
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_PLANDIR (default
  *      plans/r14), and the session's SPARK_GRAFT_CPUS (default 32) and
  *      SPARK_GRAFT_CONF ([[graft.Session]]).
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val suffix = args(0)
    val keys = args(1).split(",").map(_.trim).filter(_.nonEmpty)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val planDir = sys.env.getOrElse("SPARK_GRAFT_PLANDIR", "plans/r14")
    val spark = graft.Session.local(defaultCpus = 32)
    new java.io.File(planDir).mkdirs()
    keys.foreach { k =>
      val df = graft.SparkEntry.queries(k)(spark, sfDir)
      // queryExecution.explainString is exactly what .explain("formatted")
      // prints, capturable without stdout redirection
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$planDir/${k}_$suffix.txt"), txt)
      println(s"[explain] $k -> $planDir/${k}_$suffix.txt (${txt.length} chars)")
    }
    spark.stop()
  }
}
