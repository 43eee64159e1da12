package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Optimization scratch harness (r14, kept for r15): time named sub-plan
  * variants with the noop sink (guide §1.4) to localize where a hot key's
  * seconds go. Variants live in code (edited per investigation); each is
  * timed thrice, min reported. Not part of any query path.
  *
  * `SPARK_GRAFT_PROBE=corpus,minhash,hits,hnsw` selects sections.
  */
object Probe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val sections = sys.env.getOrElse("SPARK_GRAFT_PROBE", "corpus,minhash,hits,hnsw")
      .split(",").map(_.trim).toSet
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.EnvConf(spark)
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

    def docs = graft.ext.Corpus.gatedDocs(s, d)
    def exact() = docs
      .withColumn("h", md5(col("text")))
      .groupBy(col("h"))
      .agg(min(struct(col("doc_id"), col("lang"), col("text"))).as("w"))
      .select(col("w.doc_id").as("doc_id"), col("w.lang").as("lang"),
        col("w.text").as("text"))
    def exDocs() = exact().select(col("doc_id"), col("text"))

    if (sections("corpus")) {
      // ---- corpus_clean_pipeline phase decomposition ----
      time("cc_exact")(exact())
      time("cc_md5assign") {
        graft.ext.Dedup.md5ClusterAssign(exDocs())
      }
      // inside md5ClusterAssign: band rows / candidates / verify / CC
      time("mca_bandrows")(graft.ext.Dedup.md5SlotBandRows(exDocs()))
      time("mca_cand") {
        graft.ext.Dedup.starChainCandidates(
          graft.ext.Dedup.md5SlotBandRows(exDocs()))
          .select(col("i"), col("j")).distinct()
      }
      time("mca_verify") {
        graft.ext.Dedup.verifyExactJaccard(
          graft.ext.Dedup.starChainCandidates(
            graft.ext.Dedup.md5SlotBandRows(exDocs()))
            .select(col("i"), col("j")).distinct(),
          exDocs(), 0.8)
      }
      time("cc_full")(graft.SparkEntry.queries("corpus_clean_pipeline")(s, d))
      // verify variant: idArrs materialized once (it is referenced 4x in
      // the verify joins: sizes i/j + arrays i/j — each reference re-runs
      // the per-word md5 + sort over the corpus unless checkpointed)
      time("mca_verify_idcut") {
        val cand = graft.ext.Dedup.starChainCandidates(
          graft.ext.Dedup.md5SlotBandRows(exDocs()))
          .select(col("i"), col("j")).distinct()
        val idArrs = graft.Ckpt.cut(
          exDocs().select(col("doc_id"),
            expr("""array_sort(array_distinct(transform(
                   |  array_distinct(split(text, ' ')),
                   |  w -> graft_hex_long(md5(w), 1, 15))))""".stripMargin).as("ids")))
        val sizes = idArrs.select(col("doc_id"), size(col("ids")).as("n"))
        val gated = cand
          .join(sizes.select(col("doc_id").as("i"), col("n").as("ni")), Seq("i"))
          .join(sizes.select(col("doc_id").as("j"), col("n").as("nj")), Seq("j"))
          .filter(least(col("ni"), col("nj")) / greatest(col("ni"), col("nj")) >= 0.8)
        val inter = graft.functions.VectorFunctions.intersect_count(col("ha"), col("hb"))
        gated
          .join(idArrs.select(col("doc_id").as("i"), col("ids").as("ha")), Seq("i"))
          .join(idArrs.select(col("doc_id").as("j"), col("ids").as("hb")), Seq("j"))
          .select(col("i"), col("j"),
            (inter / (size(col("ha")) + size(col("hb")) - inter)).as("jaccard"))
          .filter(col("jaccard") >= 0.8)
      }
    }

    if (sections("minhash")) {
      // ---- dedup_minhash stage decomposition ----
      val raw = graft.Tables.documents(s, d)
      time("mh_xx_clusters")(
        graft.ext.Dedup.minhashClusters(raw, "doc_id", "text"))
      time("mh_md5_twin")(
        graft.ext.Dedup.md5StarChainPairs(raw.select(col("doc_id"), col("text"))))
      time("mh_full")(graft.SparkEntry.queries("dedup_minhash")(s, d))
      // how much does ONE tokenize+sort+hash pass over the corpus cost?
      // (replicates minhashClusters' withFp stage — it runs once into the
      // reps checkpoint and once more lazily under the final expand's
      // membership leg; sizing the prize of sharing that scan)
      time("mh_withfp") {
        raw.select(col("doc_id").as("id"),
            array_sort(transform(array_distinct(split(col("text"), " ")),
              w => xxhash64(w))).as("hs"))
          .withColumn("fp", xxhash64(col("hs")))
          .select(col("id"), col("fp"))
      }
      // and the per-doc wordSetKey pass the perDoc leg pays (md5 twin of
      // the same tokenize)
      time("mh_wk") {
        raw.select(col("doc_id"),
          md5(concat_ws(" ",
            sort_array(array_distinct(split(col("text"), " "))))).as("wk"))
      }
    }

    if (sections("cc")) {
      // ---- CC fixpoint census on the corpus pipeline's real pair graph:
      // the path that ran (driver-local, or the rounds per phase) and
      // seconds ----
      val pairs = graft.Ckpt.cut(graft.ext.Dedup.md5StarChainPairs(exDocs()))
      val nodes = graft.Ckpt.cut(exDocs().select(col("doc_id")))
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

    if (sections("chars")) {
      // ---- text_substring_dedup_chars decomposition: how much of the
      // key is the per-char explode vs the 5 rank rounds vs the tail ----
      val docsRaw = graft.Tables.documents(s, d)
      time("chars_full")(
        graft.SparkEntry.queries("text_substring_dedup_chars")(s, d))
      time("chars_explode_only") {
        docsRaw.select(col("doc_id"), length(col("text")).as("len"),
            posexplode(split(col("text"), "")).as(Seq("p0", "r")))
          .select(col("doc_id"), col("len"), (col("p0") + 1).as("p"), col("r"))
      }
      time("chars_rank_md5") {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("doc_id")).orderBy(col("p"))
        var pos = docsRaw.select(col("doc_id"), length(col("text")).as("len"),
            posexplode(split(col("text"), "")).as(Seq("p0", "r")))
          .select(col("doc_id"), col("len"), (col("p0") + 1).as("p"), col("r"))
        for (t <- 1 to 5) {
          pos = pos.withColumn("r",
            md5(concat_ws("|", col("r"),
              coalesce(lead(col("r"), 1 << (t - 1)).over(w), lit("$")))))
        }
        pos
      }
      // ---- tail variants over the PRODUCTION (segmented) rank chain:
      // how to consume the eligible ranks (cut+agg+join = r13 prod;
      // nocut = rely on exchange reuse / recompute; window = one
      // consumer via count-over-rank-partition; agg-only = floor) ----
      def eligProd = graft.ext.SubstrDedup.charEligRanks(
        docsRaw.select(col("doc_id"), col("text")), 32, -1)
      def stitch(ivl: DataFrame) = graft.ext.SubstrDedup
        .mergeAndStitchChars(
          docsRaw.select(col("doc_id"), col("text")), ivl)
      time("chars_v_cut") {
        val elig = graft.Ckpt.cut(eligProd)
        val dupR = elig.groupBy(col("r")).agg(count(lit(1)).as("cnt"))
          .filter(col("cnt") >= 2).select(col("r"))
        stitch(elig.join(dupR, "r")
          .select(col("doc_id"), col("p").as("st"), (col("p") + 31).as("en")))
      }
      time("chars_v_nocut") {
        val elig = eligProd
        val dupR = elig.groupBy(col("r")).agg(count(lit(1)).as("cnt"))
          .filter(col("cnt") >= 2).select(col("r"))
        stitch(elig.join(dupR, "r")
          .select(col("doc_id"), col("p").as("st"), (col("p") + 31).as("en")))
      }
      time("chars_v_window") {
        import org.apache.spark.sql.expressions.Window
        stitch(eligProd
          .withColumn("cnt", count(lit(1)).over(Window.partitionBy(col("r"))))
          .filter(col("cnt") >= 2)
          .select(col("doc_id"), col("p").as("st"), (col("p") + 31).as("en")))
      }
      time("chars_v_aggonly") {
        eligProd.groupBy(col("r")).agg(count(lit(1)).as("cnt"))
          .filter(col("cnt") >= 2).select(col("r"))
      }
      time("chars_v_eligonly")(eligProd)
      time("chars_rank_xx128") {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("doc_id")).orderBy(col("p"))
        var pos = docsRaw.select(col("doc_id"), length(col("text")).as("len"),
            posexplode(split(col("text"), "")).as(Seq("p0", "ch")))
          .select(col("doc_id"), col("len"), (col("p0") + 1).as("p"),
            xxhash64(lit(0), col("ch")).as("ra"),
            xxhash64(lit(1), col("ch")).as("rb"))
        for (t <- 1 to 5) {
          val la = coalesce(lead(col("ra"), 1 << (t - 1)).over(w), lit(Long.MinValue))
          val lb = coalesce(lead(col("rb"), 1 << (t - 1)).over(w), lit(Long.MinValue))
          pos = pos
            .withColumn("ra2", xxhash64(lit(0), col("ra"), col("rb"), la, lb))
            .withColumn("rb2", xxhash64(lit(1), col("ra"), col("rb"), la, lb))
            .drop("ra", "rb")
            .withColumnRenamed("ra2", "ra").withColumnRenamed("rb2", "rb")
        }
        pos
      }
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
