package graft

import org.scalatest.funsuite.AnyFunSuite

/** The one graph-ANN descent at every stack height it serves (L = 0, 1
  * and 3): its keys' barriers stay pinned, and a persisted store of any
  * height serves and appends on all of its layers. */
class GraphAnnSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("graph-ANN descent keys: jobs per warm run stay pinned at sf0.001") {
    // (jobs, stages) per warm run (recipe: JobCensus). The served key's
    // first run seeds its per-process store, so the counted run is a
    // pure serve from the persisted layers
    val pinned = Map(
      "sim_search_knn_graph_bucketed" -> (40, 86),
      "sim_search_hnsw" -> (67, 146),
      "sim_search_hnsw_served" -> (47, 92),
      "sim_search_hnsw_multi" -> (121, 266))
    val ns = JobCensus.session()
    val got = pinned.keys.map(k => k -> JobCensus.warmJobs(ns, k)).toMap
    assert(got == pinned)
  }

  test("a 3-level store serves its whole stack and appends to every layer") {
    functions.VectorFunctions.register(spark)
    val sf = TestSpark.sf0001
    val e = Tables.embeddings(spark, sf)
    val dir = java.nio.file.Files.createTempDirectory("graft_hnsw_levels").toString
    ext.SimSearch.hnswStoreSeed(e.filter("vec_id <> 0"), dir, levels = 3)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val served = rows(ext.SimSearch.serveHnswFromStore(
      spark, dir, e.filter("vec_id = 0").select("embedding")))
    val inQuery = rows(SparkEntry.queries("sim_search_hnsw_multi")(spark, sf))
    assert(served.nonEmpty && served == inQuery,
      "the store serve must descend through all three upper layers")
    // a re-delivered batch: the epoch lands in every layer, even where
    // the batch's slice of that layer is empty
    ext.SimSearch.hnswDelta(
      e.filter("vec_id <> 0 AND vec_id % 2 = 1").select("vec_id", "embedding"),
      dir, 0L).collect()
    (0 to 3).foreach { l =>
      assert(Hfs.exists(s"$dir/l$l/epoch=0/_SUCCESS"),
        s"the delta left layer $l without its epoch")
    }
    Hfs.deleteRecursive(dir)
  }
}
