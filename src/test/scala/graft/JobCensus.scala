package graft

import org.apache.spark.sql.SparkSession

/** The (jobs, stages) pin recipe shared by the suites that gate a key
  * family's barriers: one warm run of a key on sf0.001 in a session with
  * AQE off. With AQE on, each shuffle stage is a job of its own and a
  * runtime join switch can drop one, so the count hangs on which stage
  * finishes first (betweenness read 39 or 40 jobs). Without it the plan,
  * and so the count, is fixed — and unlike seconds it does not depend on
  * machine load. */
object JobCensus {

  /** A fresh session with the pin recipe's conf, so no other suite's
    * runtime conf leaks in. */
  def session(): SparkSession = {
    val ns = TestSpark.spark.newSession()
    ns.conf.set("spark.sql.shuffle.partitions", "4")
    ns.conf.set("spark.sql.adaptive.enabled", "false")
    ns
  }

  /** Spark (jobs, stages) started by one warm run of `key` on sf0.001:
    * an untimed first run warms the session's caches, then
    * [[graft.obs.JobCensus.jobsOf]] tallies the second run (the Probe
    * `jobs` census). */
  def warmJobs(ns: SparkSession, key: String): (Int, Int) = {
    def run(): Unit = SparkEntry.queries(key)(ns, TestSpark.sf0001)
      .write.format("noop").mode("overwrite").save()
    run()
    obs.JobCensus.jobsOf(ns, s"census-$key")(run())
  }
}
