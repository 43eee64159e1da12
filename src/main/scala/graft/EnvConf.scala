package graft

import org.apache.spark.sql.SparkSession

/** `SPARK_GRAFT_CONF=key=value,key=value`: session confs that the
  * driver-facing mains (Bench, Verify, Probe) set before they run any
  * key, for local A/B runs — e.g. `spark.sql.autoBroadcastJoinThreshold=-1`
  * for the graph family's shuffle layout (no driver-local rounds, no
  * vertex-domain broadcast), or `=1` for its broadcast-layout distributed
  * rounds at sf0.01. An entry without `=` is ignored. */
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
