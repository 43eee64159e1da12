package graft

import org.apache.spark.sql.SparkSession

/** The one session of the command-line mains (Bench, Verify, Probe,
  * `tools.Explain`, `tools.AnnBeamCurve`): `local[SPARK_GRAFT_CPUS]`
  * (each main passes its own default) with as many shuffle partitions,
  * the UTC session time zone, the UI off, WARN logging, and the
  * `SPARK_GRAFT_CONF` settings ([[EnvConf]]) set on the builder, so a
  * static conf takes effect as well. */
object Session {
  def local(defaultCpus: Int): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus.toString)
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    val spark = sys.env.get("SPARK_GRAFT_CONF").toSeq.flatMap(EnvConf.pairs)
      .foldLeft(builder) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
