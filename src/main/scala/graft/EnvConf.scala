package graft

import org.apache.spark.sql.SparkSession

/** `SPARK_GRAFT_CONF=key=value,key=value`: session confs that the
  * driver-facing mains (Bench, Verify, Probe) set before they run any
  * key, for local A/B runs — e.g. `graft.graph.broadcastVertexDomain=false`
  * for the graph family's shuffle mode, or
  * `spark.sql.autoBroadcastJoinThreshold=-1` to keep the graph rank
  * fixpoints on their distributed rounds at sf0.01. An entry without `=`
  * is ignored. */
object EnvConf {
  def pairs(spec: String): Seq[(String, String)] =
    spec.split(",").toSeq.flatMap(_.split("=", 2) match {
      case Array(k, v) => Some(k.trim -> v.trim)
      case _ => None
    })

  def apply(spark: SparkSession): Unit =
    sys.env.get("SPARK_GRAFT_CONF").foreach(pairs(_).foreach {
      case (k, v) => spark.conf.set(k, v)
    })
}
