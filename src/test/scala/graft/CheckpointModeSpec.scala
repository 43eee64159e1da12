package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.scalatest.funsuite.AnyFunSuite

/** Reliable-checkpoint mode (r11, VERDICT #3): the iterative fixpoints
  * (PageRank, connected components, SSSP) must produce BIT-IDENTICAL
  * results whether their lineage cuts are localCheckpoint (default) or
  * reliable checkpoints to `graft.checkpoint.dir` — the 100 TB
  * preemptible-executor posture. A cut only materializes deterministic
  * rows; this spec proves no mode-dependent drift sneaks in, and that
  * the reliable mode actually engages (files land under the dir).
  */
class CheckpointModeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private def runBoth(key: String): Seq[Row] =
    runBothOn(key)(SparkEntry.queries(key)(spark, sf))

  private def runBothOn(key: String)(result: => DataFrame): Seq[Row] = {
    val dir = java.nio.file.Files
      .createTempDirectory(s"graft_ckpt_$key").toString
    try {
      spark.conf.unset("graft.checkpoint.dir")
      val local = result.collect().toSeq
      spark.conf.set("graft.checkpoint.dir", dir)
      val reliable = result.collect().toSeq
      assert(local == reliable,
        s"$key diverged between localCheckpoint and reliable checkpoint modes")
      // the reliable leg must have actually checkpointed — an empty dir
      // would mean the conf was ignored and both legs ran local
      val wrote = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .filter(java.nio.file.Files.isRegularFile(_)).count()
      assert(wrote > 0, s"$key: no checkpoint files written under $dir")
      local
    } finally {
      spark.conf.unset("graft.checkpoint.dir")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("pagerank is hash-identical across checkpoint modes") {
    // sf0.001's edges fit the driver-local gate, which cuts nothing; at a
    // 1 B threshold the gate declines and both legs run the cuts of the
    // broadcast-layout distributed rounds (sf0.1's path)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1")
    try runBoth("graph_pagerank")
    finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("connected components (dedup_clusters) is hash-identical across modes") {
    // sf0.001's pair graph fits the driver-local gate, which cuts nothing;
    // with auto-broadcast off both legs run the distributed rounds' cuts
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try runBoth("dedup_clusters")
    finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("connected components past the round budget is hash-identical across modes") {
    // a 64-node path outgrows the min-label rounds, so the contraction
    // and the star rounds' cuts run in both modes too; it fits the
    // driver-local gate, which cuts nothing, so both legs run with
    // auto-broadcast off
    import spark.implicits._
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val rows = try runBothOn("cc_deep_path") {
      graft.ext.Dedup.connectedComponents((1L to 64L).toDF("id"),
        (1L until 64L).map(i => (i, i + 1)).toDF("i", "j")).orderBy("id")
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    assert(rows.map(_.getLong(1)).toSet == Set(1L))
  }

  test("weighted SSSP is hash-identical across checkpoint modes") {
    runBoth("graph_sssp")
  }
}
