package graft.tools

/** Local measurement harness for the ANN serving-quality knobs (r13,
  * VERDICT #3; cost axes r14, VERDICT #4): seeds the persisted HNSW
  * store once, then serves the probe at widening beam widths and
  * prints recall@10 against the exact brute-force answer
  * (`sim_search_cosine`) TOGETHER with the walk's scored-candidate
  * count and the per-probe steady wall time (min of 3, first serve
  * discarded as plan/codegen warmup) — the ef trade is two-sided, and
  * a user cannot place the dial without the price axis. A second
  * section does the same for the IVF `nprobe` dial (scored candidate
  * rows from the probed cells + steady serve time). The curves live in
  * PERF.md; the dial-up guidance in SCALE.md.
  *
  * `runMain graft.tools.AnnBeamCurve [sfDir] [beam,beam,...] [np,np,...]`
  * in the [[graft.Session]] (SPARK_GRAFT_CPUS default 32).
  */
object AnnBeamCurve {
  def main(args: Array[String]): Unit = {
    val sf = args.headOption.getOrElse("/root/testdata/sf0.01")
    val beams = args.lift(1).getOrElse("10,20,40").split(",").map(_.trim.toInt)
    val nprobes = args.lift(2).getOrElse("2,4,8,16").split(",").map(_.trim.toInt)
    val spark = graft.Session.local(defaultCpus = 32)
    graft.functions.VectorFunctions.register(spark)
    val e = graft.Tables.embeddings(spark, sf)
    val exact = graft.SparkEntry.queries("sim_search_cosine")(spark, sf)
      .collect().map(_.getLong(0)).toSet
    val dir = java.nio.file.Files.createTempDirectory("graft_beam_curve").toString
    graft.ext.SimSearch.hnswStoreSeed(e.filter("vec_id <> 0"), dir, levels = 1)
    val probe = e.filter("vec_id = 0").select("embedding")
    def steady(run: () => Unit): Double = {
      run() // warmup: planning + codegen, not the serving cost
      (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        run()
        (System.nanoTime() - t0) / 1e9
      }.min
    }
    beams.foreach { b =>
      var got: Set[Long] = Set.empty
      val sec = steady(() => got = graft.ext.SimSearch
        .serveHnswFromStore(spark, dir, probe, k = 10, beamW = b)
        .collect().map(_.getLong(0)).toSet)
      val scoredN = graft.ext.SimSearch
        .serveHnswScoredCount(spark, dir, probe, beamW = b)
      println(f"beamcurve sf=$sf%s beam=$b%d recall@10=${
        got.intersect(exact).size / 10.0}%.2f scored=$scoredN%d " +
        f"serve_sec=$sec%.2f")
    }
    graft.Hfs.deleteRecursive(dir)
    // IVF nprobe: same two axes over the pinned saved index
    val ivfDir = java.nio.file.Files
      .createTempDirectory("graft_nprobe_curve").toString
    graft.ext.SimSearch.buildIvfIndexPinned(e, ivfDir)
    val probes = e.filter("vec_id = 0")
      .selectExpr("vec_id AS probe_id", "embedding AS probe")
    nprobes.foreach { np =>
      var got: Set[Long] = Set.empty
      val sec = steady(() => got = graft.ext.SimSearch
        .servedTopKPinned(spark, ivfDir, probes, nprobe = np)
        .collect().map(_.getLong(2)).toSet)
      val scoredN = graft.ext.SimSearch
        .servedIvfScoredCount(spark, ivfDir, probes, np)
      println(f"nprobecurve sf=$sf%s nprobe=$np%d recall@10=${
        got.intersect(exact).size / 10.0}%.2f scored=$scoredN%d " +
        f"serve_sec=$sec%.2f")
    }
    graft.Hfs.deleteRecursive(ivfDir)
    spark.stop()
  }
}
