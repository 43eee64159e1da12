package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.scalatest.funsuite.AnyFunSuite

/** 100 TB degradation-mode posture (r10, VERDICT #3 "constrained-memory
  * posture is untested"): when a partition's working set outgrows memory,
  * the engine must SPILL and keep going — never OOM, never change the
  * answer. A real cluster hits this through executor-memory pressure; in
  * one shared test JVM we cannot shrink the memory manager after context
  * start, so the suite forces the SAME code paths through Spark's spill
  * thresholds instead: window/sort-merge-join buffers spill after 512
  * rows (in-memory buffer 64), ObjectHashAggregate falls back to
  * sort-based at 128 keys, and HashAggregate takes its
  * spill-and-sort-fallback branch via
  * `spark.sql.TungstenAggregate.testFallbackStartsAt` — the exact
  * branch a memory-starved executor takes when the hash map cannot
  * grow.
  *
  * Threshold sizing is load-bearing: at 64 rows a multi-thousand-row
  * window partition shatters into hundreds of spill FILES, and the
  * merge phase allocates a reader buffer per file — the suite's first
  * cut OOMed the 8 g test JVM doing exactly that (the failure mode it
  * exists to rule out; the merge reader buffer is floored at 1 MiB, so
  * file count is the only lever). 512-row spills keep the per-task
  * file count bounded, which is the same discipline a real deployment
  * applies: spill thresholds size the UNIT of spill, not just the
  * trigger.
  *
  * Two assertions: (1) every heavy representative completes and is
  * BIT-IDENTICAL to its unconstrained run — the exact-integer/decimal
  * discipline means accumulation-order changes from sort-fallback
  * cannot drift a result; (2) the task metrics actually recorded
  * spilled bytes, so the thresholds demonstrably exercised the spill
  * path rather than being silently ignored. */
class SpillPathSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val spillConfs = Seq(
    "spark.sql.windowExec.buffer.in.memory.threshold" -> "64",
    "spark.sql.windowExec.buffer.spill.threshold" -> "512",
    "spark.sql.sortMergeJoinExec.buffer.in.memory.threshold" -> "64",
    "spark.sql.sortMergeJoinExec.buffer.spill.threshold" -> "512",
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "128",
    // "skip rows, then force fallback": small values so every real agg
    // takes the spill-and-sort branch
    "spark.sql.TungstenAggregate.testFallbackStartsAt" -> "64,128")

  private def withConfs[T](pairs: Seq[(String, String)])(body: => T): T = {
    val olds = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally olds.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("heavy keys complete bit-identically with spill thresholds forced low") {
    // one representative per heavy family: iterative graph fixpoint,
    // promoted LSH dedup (joins + windows + CC), md5-coin bootstrap
    // aggregation, fact-fact sort-merge join, rolling-frame window
    val keys = Seq("graph_pagerank", "dedup_minhash", "stats_bootstrap",
      "join_equi_large", "win_rolling_frame")
    val spilledBytes = new java.util.concurrent.atomic.AtomicLong(0L)
    val listener = new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null)
          spilledBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
    // sf0.001's edges fit pagerank's driver-local gate, which would spill
    // nothing; both of its legs run the distributed rounds instead
    def run(k: String) = withConfs(
        if (k == "graph_pagerank") Seq("spark.sql.autoBroadcastJoinThreshold" -> "-1")
        else Nil) {
      SparkEntry.queries(k)(spark, TestSpark.sf0001).collect().toSeq
    }
    val baselines = keys.map(k => k -> run(k))
    spark.sparkContext.addSparkListener(listener)
    try withConfs(spillConfs) {
      for ((k, baseline) <- baselines) {
        val got = run(k)
        assert(got == baseline,
          s"$k diverged under forced spill (${got.size} vs ${baseline.size} rows)")
      }
    } finally {
      // task-end events ride the async listener bus; give them a moment
      val deadline = System.currentTimeMillis + 15000
      while (spilledBytes.get == 0 && System.currentTimeMillis < deadline)
        Thread.sleep(200)
      spark.sparkContext.removeSparkListener(listener)
    }
    assert(spilledBytes.get > 0,
      "no spill recorded — the thresholds did not exercise the spill path")
  }
}
