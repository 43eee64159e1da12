package graft.obs

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** The job counter: Spark (jobs, stages) that a block starts. Unlike
  * seconds, the count does not depend on machine load, so it is the
  * evidence for "same work" and "fewer barriers" claims (Probe's `jobs`
  * section, the suites' barrier pins). */
object JobCensus {

  /** Spark (jobs, stages) that `body` starts from this thread: a listener
    * tallies the jobs of job group `group` while `body` runs in it. A
    * sentinel job submitted after it marks the end of its events: the
    * listener bus delivers them in order, so once the sentinel's start is
    * seen every job of `body` has been counted.
    *
    * @throws IllegalStateException if the sentinel is not seen within 60 s */
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
      if (!done.await(60, TimeUnit.SECONDS))
        throw new IllegalStateException(s"$group: sentinel job never seen")
      (jobs.get, stages.get)
    } finally sc.removeSparkListener(listener)
  }
}
