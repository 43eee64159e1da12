package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.Assertions

/** The (jobs, stages) pin recipe shared by the suites that gate a key
  * family's barriers: one warm run of a key on sf0.001 in a session with
  * AQE off. With AQE on, each shuffle stage is a job of its own and a
  * runtime join switch can drop one, so the count hangs on which stage
  * finishes first (betweenness read 39 or 40 jobs). Without it the plan,
  * and so the count, is fixed — and unlike seconds it does not depend on
  * machine load. */
object JobCensus extends Assertions {

  /** A fresh session with the pin recipe's conf, so no other suite's
    * runtime conf leaks in. */
  def session(): SparkSession = {
    val ns = TestSpark.spark.newSession()
    ns.conf.set("spark.sql.shuffle.partitions", "4")
    ns.conf.set("spark.sql.adaptive.enabled", "false")
    ns
  }

  /** Spark (jobs, stages) started by one warm run of `key` on sf0.001:
    * an untimed first run warms the session's caches, then [[jobsOf]]
    * tallies the second run (the Probe `jobs` census). */
  def warmJobs(ns: SparkSession, key: String): (Int, Int) = {
    def run(): Unit = SparkEntry.queries(key)(ns, TestSpark.sf0001)
      .write.format("noop").mode("overwrite").save()
    run()
    jobsOf(ns, s"census-$key")(run())
  }

  /** Spark (jobs, stages) that `body` starts from this thread: a listener
    * tallies the jobs of job group `group` while `body` runs in it. A
    * sentinel job submitted after it marks the end of its events: the
    * listener bus delivers them in order, so once the sentinel's start is
    * seen every job of `body` has been counted. */
  def jobsOf(ns: SparkSession, group: String)(body: => Unit): (Int, Int) = {
    val sentinel = s"$group-end"
    val (jobs, stages) = (new AtomicInteger, new AtomicInteger)
    val done = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        Option(j.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) =>
            jobs.incrementAndGet(); stages.addAndGet(j.stageInfos.size)
          case Some(`sentinel`) => done.countDown()
          case _ =>
        }
    }
    val sc = ns.sparkContext
    def inGroup(g: String)(body: => Unit): Unit = {
      sc.setJobGroup(g, g)
      try body finally sc.clearJobGroup()
    }
    sc.addSparkListener(listener)
    try {
      inGroup(group)(body)
      inGroup(sentinel)(sc.parallelize(Seq(1), 1).count())
      assert(done.await(60, TimeUnit.SECONDS), s"$group: sentinel job never seen")
      (jobs.get, stages.get)
    } finally sc.removeSparkListener(listener)
  }
}
