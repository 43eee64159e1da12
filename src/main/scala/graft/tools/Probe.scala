package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Measurement harness: times production keys and stages with the noop
  * sink (guide §1.4), each thrice with the min reported, and counts
  * their Spark jobs and stages. It calls production code only — it
  * holds no copy of a production stage. Not part of any query path.
  *
  * `SPARK_GRAFT_PROBE=cc,hits,jobs,hnsw` selects sections (default
  * `hits,hnsw`).
  */
object Probe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val sections = sys.env.getOrElse("SPARK_GRAFT_PROBE", "hits,hnsw")
      .split(",").map(_.trim).toSet
    val spark = graft.Session.local(defaultCpus = 32)
    spark.range(1000).selectExpr("sum(id)").write.format("noop").mode("overwrite").save()
    graft.functions.VectorFunctions.register(spark)

    def time(name: String)(f: => DataFrame): Unit = {
      def once(): Double = {
        val t0 = System.nanoTime()
        f.write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      val t1 = once(); val t2 = once(); val t3 = once()
      println(f"[probe] $name%-40s ${Seq(t1, t2, t3).min}%.2f s  (runs $t1%.2f / $t2%.2f / $t3%.2f)")
    }

    val s = spark
    val d = sfDir

    if (sections("cc")) {
      // ---- CC fixpoint census on the corpus pipeline's real pair graph:
      // the path that ran (driver-local, or the rounds per phase) and
      // seconds ----
      val exDocs = graft.ext.Corpus.exactDocs(s, d)
        .select(col("doc_id"), col("text"))
      val pairs = graft.Ckpt.cut(graft.ext.Dedup.md5StarChainPairs(exDocs))
      val nodes = graft.Ckpt.cut(exDocs.select(col("doc_id")))
      println("[probe] corpus pair edges = " + pairs.count() +
        ", nodes = " + nodes.count())
      locally {
        val t0 = System.nanoTime()
        val (lab, labelRounds, starRounds) =
          graft.ext.Dedup.connectedComponentsWithRounds(nodes, pairs, "doc_id")
        lab.write.format("noop").mode("overwrite").save()
        // zero rounds: the driver-local union-find ran
        val path = if (labelRounds == 0) "path=local"
          else s"path=distributed label_rounds=$labelRounds star_rounds=$starRounds"
        println(f"[probe] cc $path ${(System.nanoTime() - t0) / 1e9}%.2f s")
      }
      // and on dedup_minhash's verified star-edge graph over word-set reps
      locally {
        val raw = graft.Tables.documents(s, d)
        val t0 = System.nanoTime()
        graft.ext.Dedup.minhashClusters(raw, "doc_id", "text")
          .write.format("noop").mode("overwrite").save()
        println(f"[probe] mh_clusters_cc ${(System.nanoTime() - t0) / 1e9}%.2f s")
      }
    }

    if (sections("hits")) {
      // ---- graph_hits: full key (the iterate loop dominates; the edge
      // cache is warmed by the first run, mirroring the bench) ----
      time("hits_full")(graft.SparkEntry.queries("graph_hits")(s, d))
      time("pagerank_full")(graft.SparkEntry.queries("graph_pagerank")(s, d))
    }

    if (sections("jobs")) {
      // ---- deterministic barrier census (r15): Spark jobs/stages per key
      // (graft.obs.JobCensus). Job count is noise-free evidence for
      // "fewer driver barriers per fixpoint round" claims — contention
      // moves seconds, never the job count.
      val jobKeys = sys.env.get("SPARK_GRAFT_JOBKEYS")
        .map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty))
        .getOrElse(Seq("graph_pagerank", "graph_hits", "graph_sssp",
          "graph_labelprop", "dedup_minhash", "dedup_clusters",
          "dedup_semantic", "corpus_clean_pipeline"))
      for (k <- jobKeys) {
        def run(): Unit = graft.SparkEntry.queries(k)(s, d)
          .write.format("noop").mode("overwrite").save()
        // warm the shared edge/doc caches once so per-key counts are
        // steady-state, mirroring what the bench's min-of-N times
        run()
        val (jobs, stages) = graft.obs.JobCensus.jobsOf(s, s"census-$k")(run())
        println(f"[probe] jobs $k%-30s jobs=$jobs%4d stages=$stages%4d")
      }
    }

    if (sections("hnsw")) {
      // ---- hnsw served: steady-state serving (store seeded on first run) ----
      time("hnsw_served")(graft.SparkEntry.queries("sim_search_hnsw_served")(s, d))
    }

    spark.stop()
  }
}
