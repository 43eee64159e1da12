package graft

/** `SPARK_GRAFT_CONF=key=value,key=value`: session confs that the
  * command-line mains set on their one session builder ([[Session]])
  * before they run any key, for local A/B runs — e.g.
  * `spark.sql.autoBroadcastJoinThreshold=-1` for the graph family's
  * shuffle layout (no in-JVM rounds, no vertex-domain broadcast), or
  * `=1` for its broadcast-layout distributed rounds at sf0.01. An
  * entry without `=` is rejected, so a typo never runs an A/B on the
  * default conf. */
object EnvConf {
  def pairs(spec: String): Seq[(String, String)] =
    spec.split(",").toSeq.map { entry =>
      entry.split("=", 2) match {
        case Array(k, v) if k.trim.nonEmpty => k.trim -> v.trim
        case _ => throw new IllegalArgumentException(
          s"SPARK_GRAFT_CONF entry '$entry' is not key=value")
      }
    }
}
