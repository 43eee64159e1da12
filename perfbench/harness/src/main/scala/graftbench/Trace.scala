package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans and Spark-side counters for one benchmark run.
  *
  * Spans (name, start, end, parent, pass) are always timed, but only kept
  * when tracing is on. With tracing on, [[attach]] also registers a
  * SparkListener (jobs, stages, task metrics) and a QueryExecutionListener
  * (planning phases, final plan shape). Everything stays in memory until
  * [[record]] is written out at the end of the run. Times are epoch
  * seconds, the clock Spark's listener events use. */
final class Trace(val enabled: Boolean) {
  private val wall0 = System.currentTimeMillis() / 1e3
  private val nano0 = System.nanoTime()
  def now(): Double = wall0 + (System.nanoTime() - nano0) / 1e9

  private val spans = mutable.ArrayBuffer.empty[Map[String, Any]]
  private var nextSpan = 0

  /** Times `body`, keeping a span when tracing. Returns the result and the
    * duration in seconds; the span is kept even when `body` throws. */
  def span[T](name: String, parent: Int, pass: Int)(body: Int => T): (T, Double) = {
    val id = nextSpan
    nextSpan += 1
    val start = now()
    var end = Double.NaN
    try {
      val r = body(id)
      end = now()
      (r, end - start)
    } finally {
      if (enabled) spans += Map("id" -> id, "parent" -> parent, "name" -> name,
        "pass" -> pass, "start" -> start, "end" -> (if (end.isNaN) now() else end))
    }
  }

  private val jobs = mutable.LinkedHashMap.empty[Int, mutable.Map[String, Any]]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val queries = mutable.ArrayBuffer.empty[Map[String, Any]]
  private var jobsEnded = 0

  private val taskSums = Seq("tasks", "task_failed", "run_s", "cpu_s", "gc_s",
    "sched_delay_s", "bytes_read", "records_read", "shuffle_write_bytes",
    "shuffle_read_bytes", "fetch_wait_s", "spill_bytes")

  private object Listener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Trace.this.synchronized {
      def prop(k: String): String =
        Option(e.properties).flatMap(p => Option(p.getProperty(k))).getOrElse("")
      val sites = e.stageInfos.map(_.name)
      val j = mutable.Map[String, Any](
        "id" -> e.jobId, "start" -> e.time / 1e3, "end" -> e.time / 1e3,
        "ckpt" -> sites.exists(_.contains("Ckpt.scala")),
        // Spark 4 tags broadcast jobs; earlier versions set the description
        "broadcast" -> Seq(prop("spark.job.tags"), prop("spark.job.description"))
          .exists(_.contains("broadcast exchange")),
        "stages" -> e.stageInfos.size, "stages_run" -> 0)
      taskSums.foreach(j(_) = 0.0)
      jobs(e.jobId) = j
      e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.this.synchronized {
      jobs.get(e.jobId).foreach(_("end") = e.time / 1e3)
      jobsEnded += 1
    }

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      Trace.this.synchronized {
        stageJob.get(e.stageInfo.stageId).flatMap(jobs.get).foreach { j =>
          j("stages_run") = j("stages_run").asInstanceOf[Int] + 1
        }
      }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.this.synchronized {
      stageJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
        def add(k: String, v: Double): Unit =
          j(k) = j(k).asInstanceOf[Double] + v
        add("tasks", 1)
        if (e.taskInfo.failed || e.taskInfo.killed) add("task_failed", 1)
        Option(e.taskMetrics).foreach { m =>
          add("run_s", m.executorRunTime / 1e3)
          add("cpu_s", m.executorCpuTime / 1e9)
          add("gc_s", m.jvmGCTime / 1e3)
          add("sched_delay_s", math.max(0L, e.taskInfo.duration -
            m.executorRunTime - m.executorDeserializeTime -
            m.resultSerializationTime - e.taskInfo.gettingResultTime) / 1e3)
          add("bytes_read", m.inputMetrics.bytesRead.toDouble)
          add("records_read", m.inputMetrics.recordsRead.toDouble)
          add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
          add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
          add("fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
          add("spill_bytes", (m.diskBytesSpilled + m.memoryBytesSpilled).toDouble)
        }
      }
    }
  }

  private object Queries extends QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      note(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      note(qe)

    private def note(qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases
      def ms(p: String): Double = phases.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
      val start = phases.values.map(_.startTimeMs).minOption
        .getOrElse(System.currentTimeMillis()) / 1e3
      val plan = Trace.planNodes(qe.executedPlan)
      Trace.this.synchronized {
        queries += Map("start" -> start, "analysis_ms" -> ms("analysis"),
          "optimize_ms" -> ms("optimization"), "physical_ms" -> ms("planning"),
          "nodes" -> plan.size,
          "exchanges" -> plan.count {
            case _: ShuffleExchangeLike | _: BroadcastExchangeLike => true
            case _ => false
          })
      }
    }
  }

  /** Registers the listeners on `spark` when tracing is on. */
  def attach(spark: SparkSession): Unit = if (enabled) {
    spark.sparkContext.addSparkListener(Listener)
    spark.listenerManager.register(Queries)
  }

  /** Waits until the listener bus has delivered every job end and the
    * query count has stopped moving, so the record is complete. */
  def drain(): Unit = if (enabled) {
    var stable = 0
    var last = -1
    val deadline = System.nanoTime() + 10000000000L
    while (stable < 4 && System.nanoTime() < deadline) {
      Thread.sleep(50)
      val (started, ended, qs) = synchronized((jobs.size, jobsEnded, queries.size))
      if (started == ended && qs == last) stable += 1 else stable = 0
      last = qs
    }
  }

  def record: Map[String, Any] = synchronized {
    Map("spans" -> spans.toList, "jobs" -> jobs.values.map(_.toMap).toList,
      "queries" -> queries.toList)
  }
}

object Trace {
  /** The nodes of a final physical plan, looking through adaptive
    * execution wrappers, query stages and subqueries. */
  def planNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
    case q: QueryStageExec => planNodes(q.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(planNodes)
  }
}
