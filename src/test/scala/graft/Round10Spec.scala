package graft

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** Round-10 batch: the promoted near-dup gates, incremental dedup, and
  * graph ANN. The cross-engine hash gate lives in the driver's DuckDB
  * compare; these assertions pin what a hash can't see — the bounded-work
  * contract of the beam walk, the saved-store decomposition of the
  * incremental key, and partition-count invariance for every key whose
  * determinism claim is load-bearing at 1000 executors. */
class Round10Spec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("graph-ANN visited set respects the bounded-work contract") {
    // the 100 TB argument for graph ANN is that per-probe work is
    // entries + steps × beam × cap regardless of corpus size — observe
    // it directly by asking the walk for its WHOLE visited set (k = ∞)
    graft.functions.VectorFunctions.register(spark)
    val e = Tables.embeddings(spark, TestSpark.sf001)
    val visited = graft.ext.SimSearch.graphBeamSearch(
        e.filter(col("vec_id") =!= 0),
        e.filter(col("vec_id") === 0).select(col("embedding")),
        degree = 6, beamW = 10, steps = 6, k = Int.MaxValue)
      .collect()
    val entries = 10 // one per label
    val bound = entries + 6 * 10 * (2 * 6)
    assert(visited.length >= entries, "walk never left the entry points")
    assert(visited.length <= bound,
      s"visited ${visited.length} > contract bound $bound — frontier leak")
    // visited ids are unique: the except() dedup is what keeps repeat
    // scoring (and thus per-probe cost) out of the loop
    assert(visited.map(_.getLong(0)).distinct.length == visited.length)
  }

  test("incremental dedup pair store holds only verified >= 0.8 pairs") {
    // build the store with the registered key's two appends, then check
    // the persisted pair store against an exact recompute — the store
    // is tomorrow's "saved base", so a bad write poisons every later
    // delta batch
    val docsDf = Tables.documents(spark, TestSpark.sf0001)
      .select(col("doc_id"), col("text"))
    val dir = java.nio.file.Files.createTempDirectory("graft_incr_dedup").toString
    graft.ext.Dedup.appendSplit(docsDf, dir)
    val stored = graft.pipeline.EpochStore(spark, dir).read("pairs")
      .select("i", "j")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(stored.nonEmpty, "pair store is empty")
    val exactAll = graft.ext.Dedup.verifyExactJaccard(
        spark.createDataFrame(stored.toSeq).toDF("i", "j"), docsDf, 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(stored == exactAll,
      "pair store contains a pair that fails exact Jaccard >= 0.8")
  }

  test("r10 deterministic keys are partition-count invariant (4 vs 13)") {
    val keys = Seq("dedup_minhash", "dedup_simhash", "dedup_minhash_mllib",
      "dedup_minhash_incremental", "sim_search_knn_graph",
      "sim_search_knn_graph_append", "mm_audio_spectrogram", "mm_phash_dct",
      "mm_phash_pairs")
    val ns = spark.newSession()
    ns.conf.set("spark.sql.shuffle.partitions", "13")
    keys.foreach { k =>
      val base = SparkEntry.queries(k)(spark, TestSpark.sf0001)
        .collect().map(_.toString).toSeq
      val other = SparkEntry.queries(k)(ns, TestSpark.sf0001)
        .collect().map(_.toString).toSeq
      assert(base.nonEmpty, s"$k returned no rows")
      assert(base == other, s"$k differs across partition counts")
    }
  }
}
