package graft

/** Per-round benchmark main (driver contract: ONE JSON line).
  *
  * The driver captures only the tail of sbt's stdout (~2 KB) and parses the
  * JSON line out of it — so the line must stay SHORT. We therefore time a
  * curated HEADLINE subset (one representative per operator family, biased
  * toward the heavy ones) and round seconds to 3 dp. `SPARK_GRAFT_FULL=1`
  * times every declared query instead (local use); `SPARK_GRAFT_ONLY=k1,k2`
  * times just those keys (local iteration).
  */
object Bench {

  /** One representative per SURVEY §2 family, biased toward the heavy
    * operators. CURATED (r7, ADVICE budget item): the r6 list hit 76
    * keys / 1.85 KB of the driver's ~2 KB stdout tail — one more round
    * of keys would overflow it and reproduce r01's `parsed: null`. Thin
    * family duplicates (sub-0.6 s keys whose family keeps a heavier
    * representative) moved out; their steady numbers live in PERF.md
    * and every key still runs under Verify. BenchLineSpec asserts the
    * worst-case line stays ≤ 1600 bytes. */
  val headline: Seq[String] = Seq(
    // filter_positive (thin scan+filter) moved out r9 for the calib
    // field's line budget — the scan family keeps src_dpp_pruned and
    // sink_zorder_scan as heavier representatives
    "agg_grouping_sets",    // rollup/cube hash agg
    "join_star_q5",         // multi-way star join
    "join_equi_large",      // fact-fact shuffle join
    "join_asof_native",     // custom AsOfJoinExec
    "join_range_interval",  // range join
    "join_bloom_pruned",    // runtime bloom semi-join pruning
    "join_range_bucketed",  // binned interval join, no nested loop
    "join_salted_skew",     // salted skew join
    "sink_bucketed_join",   // bucketed write + co-located join
    "sink_zorder_scan",     // z-order clustered layout (sorted_scan's
                            // thinner sibling moved out for line budget)
    "sink_commit_partitions", // dynamic partition overwrite publish
    "src_dpp_pruned",       // dynamic partition pruning
    "stats_bootstrap",      // Poisson-bootstrap md5-coin resampling (r9;
                            // win_rank_topk's thinner window moved out)
    "win_skyline",          // domain-sized Pareto frontier
    "text_textrank",        // integer-fixpoint keyword PageRank (r9;
                            // setop_except's thin set op moved out)
    "rec_item_cosine",      // basket-bounded item-item CF top-k (r9;
                            // stmt_pivot_wide's thin reshape moved out)
    "fn_math",              // scalar function battery
    "agg_q1_pricing",       // TPC-H Q1, exact-decimal
    "join_q10_returns",     // TPC-H Q10
    "agg_q8_share",         // TPC-H Q8 8-table share ratio (r7)
    "agg_q9_profit",        // TPC-H Q9 5-way profit rollup (r7)
    "agg_q17_small_qty",    // TPC-H Q17 decorrelated agg-in-predicate (r7)
    "quality_checks",       // fused expectation scan + FK anti-join
    "agg_incremental",      // incremental agg maintenance
    "agg_incremental_cdc",  // retraction (I/U/D) view maintenance (r7)
    "text_pack_shards",     // 64-way bounded-shard packing
    "text_decontaminate",   // zero-shuffle 3-gram scan
    "text_tfidf",           // text analysis
    "text_bigram_lm",       // bigram-LM quality scoring (r8)
    "eval_auc",             // rank-statistic ROC AUC (r8)
    "pref_bradley_terry",   // pinned MM preference fit (r8)
    "dedup_minhash",        // LSH cluster pipeline + promoted md5-twin gate
                            // (dedup_simhash moved out r10 for the calibMax
                            // line budget — dedup keeps 4 heavier reps)
    "dedup_jarowinkler",    // native codegen JW probe scan
    "dedup_semantic",       // knn edges -> CC clusters (SemDeDup, r8)
    "dedup_clusters",       // iterative min-label connected components
                            // (dedup_minhash_incremental was measured for
                            // this slot and declined: its decomposable
                            // plain-pair form materializes the quadratic
                            // in-clique pair set — 2.8M verified pairs /
                            // ~22 s at sf0.1 — an inherent cost of the
                            // "hash equality proves incremental ≡ full
                            // rebuild" contract, not a plan defect)
    "sim_search_hnsw_served", // 2-layer hierarchical descent SERVED from
                            // the persisted store (r12, VERDICT #2): the
                            // first run seeds (build), min-of-N then reads
                            // steady-state serving — the property the
                            // index exists for. The build-inclusive
                            // sim_search_hnsw key stays registered
                            // off-headline (its cost is the seed run)
    "sim_search_ivf",       // scored multiprobe LSH ANN (r7 rework)
    "sim_search_pq_served", // PQ ANN served from the persisted index
                            // (r13, VERDICT #4): ADC + rerank only —
                            // the first run seeds (trains codebooks),
                            // min-of-N then reads steady serving. The
                            // train-inclusive sim_search_pq key stays
                            // registered off-headline (the hnsw rule)
    "mm_decode",            // real javax.imageio PNG decode (r7)
    "attr_markov_removal",  // Markov removal-effect attribution (r9;
                            // mm_audio_decode moved out - mm_decode stays
                            // as the multimodal rep)
    "stream_sliding_agg",   // streaming (batch-replay) agg
    "fin_twap",             // time-weighted average price
    "graph_triangles",      // degree-oriented triangle counting
    "graph_pagerank",       // 5 pinned iterations, broadcast rank
    "graph_sssp",           // weighted min-plus relaxation (r8)
    "graph_labelprop",      // deterministic community detection (r8)
    "graph_jaccard_neighbors", // capped wedge link prediction (r8)
    "basket_rules",         // market-basket support/confidence/lift (r8)
    "agg_mv_rewrite",       // materialized-view rewrite serving (r8)
    "graph_hits",           // pinned hubs/authorities alternation (r8)
    "emb_pca_power",        // distributed Gram + pinned power iteration (r8)
    "text_bpe_train",       // iterative vocab-bounded BPE merge rounds (r8)
    "text_substring_dedup_chars", // ExactSubstr at CHARACTER granularity
                            // via per-position C-char md5 grams (r15;
                            // replaced the r13 prefix-doubling rank
                            // chain) — the heavier, production-discipline
                            // family rep; the token-gram key (2.2 s)
                            // stays registered off-headline
    "stats_kruskal_wallis", // doubled-rank nonparametric family rep (r11;
                            // sql_asof's thin twin moved out - the asof
                            // family keeps join_asof_native)
    "text_rag_retrieve",    // chunk+BM25+top-k retrieval composition (r11;
                            // text_inverted_index moved out - the text
                            // family keeps 7 heavier reps)
    "graph_adamic_adar",    // capped-wedge link prediction scoring (r11;
                            // agg_bitmap_distinct's thin rollup moved out)
    "corpus_clean_pipeline") // 6-stage cleaning pipeline incl near-dup (r7)

  /** Self-healing sweep selection (r11, VERDICT #2) — PURE so the line
    * spec can pin it: given the sweep-ordered `(key, bestTime)` list
    * (None = the key failed) and the calib probe series ([start, before
    * key 15, before key 30, ..., end]), return the keys worth re-timing
    * at sweep end: those whose enclosing probes read > 1.5× the calmest
    * probe (the key's whole timing sat in a contention window min-of-N
    * can't see out of), worst recorded time first, capped at 8 so a
    * fully-loaded sweep doesn't double itself.
    *
    * r13 (VERDICT #2): `prior` — the PREVIOUS round's per-key record —
    * is a second, window-blind detector: a key reading > 1.5× its
    * prior-round time is suspect even when no probe saw the spike
    * (BENCH_r12 published graph_pagerank at 8.12 s vs 4.80 real through
    * a contention window that outlasted the whole probe series), and
    * the 8-cap LIFTS when any probe read > 3× the calmest — a sweep
    * that provably sat in heavy contention is worth re-timing
    * wholesale rather than publishing poisoned numbers. */
  def rerunCandidates(keyTimes: Seq[(String, Option[Double])],
                      calibs: Seq[Double],
                      prior: Map[String, Double] = Map.empty): Seq[String] = {
    val calm = calibs.min
    val windowSuspects = keyTimes.zipWithIndex.collect {
      case ((k, Some(t)), idx)
        if math.max(
             calibs(math.min(idx / 15, calibs.size - 1)),
             calibs(math.min(idx / 15 + 1, calibs.size - 1))) > 1.5 * calm =>
        (k, t)
    }
    val priorSuspects = keyTimes.collect {
      case (k, Some(t)) if prior.get(k).exists(p => t > 1.5 * p) => (k, t)
    }
    val cap = if (calibs.max > 3 * calm) keyTimes.size else 8
    (windowSuspects ++ priorSuspects).distinct
      .sortBy(-_._2).take(cap).map(_._1)
  }

  /** Previous round's per-key record, parsed out of the newest
    * `BENCH_r<n>.json` the driver left in the working dir (the file is
    * driver-side repo state, so plain local IO is correct here).
    * `SPARK_GRAFT_PRIOR=<path>` overrides; `SPARK_GRAFT_PRIOR=` (empty)
    * disables. Failed keys render as `null` in the record and simply
    * don't match the numeric pattern — no prior, never suspect.
    *
    * Returns (source label, record) — the label publishes in the line
    * as `"prior":"BENCH_rN.json"|"none"` (r13 VERDICT #6): the prior is
    * load-bearing for record integrity, and parsePrior silently returns
    * empty on any record-shape drift — without the label the mechanism
    * would disarm with no symptom exactly when the driver format
    * evolves. A missing, disabled, unreadable, or UNPARSEABLE prior all
    * surface as "none"; `explicit` lets the spec drive a malformed file
    * without the env var. */
  def loadPrior(explicit: Option[String] = None)
      : (String, Map[String, Double]) = {
    val path = explicit.orElse(sys.env.get("SPARK_GRAFT_PRIOR") match {
      case Some("") => None
      case Some(p) => Some(p)
      case None =>
        val rs = Option(new java.io.File(".").listFiles())
          .getOrElse(Array.empty).map(_.getName)
          .filter(_.matches("BENCH_r\\d+\\.json"))
        if (rs.isEmpty) None
        else Some(rs.maxBy(_.stripPrefix("BENCH_r").stripSuffix(".json").toInt))
    })
    path.flatMap { p =>
      try {
        val m = parsePrior(new String(
          java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p)),
          "UTF-8"))
        if (m.isEmpty) None
        else Some(new java.io.File(p).getName -> m)
      } catch { case _: Throwable => None }
    }.getOrElse("none" -> Map.empty)
  }

  /** Extract the per-key record from a driver `BENCH_r<n>.json` — PURE
    * for the line spec. The driver file embeds the raw stdout tail as
    * an ESCAPED string (`\"queries\"`), so the first UNESCAPED
    * occurrence is the parsed record's object (the escaped form carries
    * a backslash before the closing quote and never matches); failed
    * keys render as `null` and fall out of the numeric pattern (no
    * prior). Whitespace around `:` is accepted — the driver re-emits
    * the record through a pretty-printer whose `"queries": {` (space)
    * silently disarmed the r13 exact-string match, exactly the
    * drift the `"prior"` line field now makes visible (r13 VERDICT
    * #6; caught by that field's first run). */
  def parsePrior(txt: String): Map[String, Double] = {
    "\"queries\"\\s*:\\s*\\{".r.findFirstMatchIn(txt) match {
      case None => Map.empty
      case Some(m) =>
        val body = txt.substring(m.end, txt.indexOf("}", m.end))
        "\"([A-Za-z0-9_]+)\"\\s*:\\s*([0-9][0-9.]*)".r
          .findAllMatchIn(body)
          .map(g => g.group(1) -> g.group(2).toDouble).toMap
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.local(defaultCpus = 32)
    // Warmup outside the timed loop: JVM/codegen baseline + parquet
    // footer/file-index reads + the noop write path, so per-query numbers
    // reflect steady state rather than whichever key happens to run first.
    spark.range(1000).selectExpr("sum(id)").write.format("noop").mode("overwrite").save()
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings").foreach { t =>
      try { if (t == "events") graft.Tables.events(spark, sfDir).limit(1).count()
            else spark.read.parquet(s"$sfDir/$t.parquet").limit(1).count() }
      catch { case _: Throwable => () }
    }
    val keys: Seq[String] =
      sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty))
        .getOrElse(
          if (sys.env.get("SPARK_GRAFT_FULL").contains("1")) SparkEntry.queries.keys.toSeq.sorted
          else headline.filter(SparkEntry.queries.contains))
    // two timed runs per query, report the min: first-run planning/codegen
    // overhead and shared-box noise spikes (one sweep saw a 20x outlier
    // under external load) would otherwise be indistinguishable from the
    // operator's real cost
    val failed = scala.collection.mutable.LinkedHashSet.empty[String]
    def timeOnce(name: String): Double = {
      val fn = SparkEntry.queries(name)
      val t0 = System.nanoTime()
      // noop sink forces FULL evaluation of the declared plan; a count()
      // would let Catalyst prune the projections/sorts being measured
      try { fn(spark, sfDir).write.format("noop").mode("overwrite").save() }
      catch { case t: Throwable =>
        failed += name
        System.err.println(s"bench: $name FAILED: ${t.getClass.getName}: ${t.getMessage}")
      }
      (System.nanoTime() - t0) / 1e9
    }
    // Load-calibration probe (r9, VERDICT item 5): fixed synthetic CPU
    // work timed at sweep start and end. The r8 driver sweep was 3x
    // distorted by box load (24x on Q1) and the line carried no way to
    // tell regression from noise — `"calib":[a,b]` makes that
    // self-diagnosing: a calm box reads ~[0.3,0.3]; a loaded box reads
    // multiples of that, scaling the sweep numbers accordingly.
    def calibOnce(): Double = {
      val t0 = System.nanoTime()
      spark.range(500000000L).selectExpr("sum(id)").collect()
      (System.nanoTime() - t0) / 1e9
    }
    // r10 hardening (VERDICT #2): (a) a probe every ~15 keys, not just at
    // the sweep ends — r9's single start/end pair proved the box was
    // loaded but could not LOCALIZE a mid-sweep contention window (the
    // driver read sink_zorder_scan at 25.78 s vs 1.84 s steady; both
    // timed runs sat inside one spike the end probes never saw).
    // "calibMax" is the worst probe — a calm sweep reads ~0.3 across,
    // so calibMax >> calib[start/end] says "a mid-sweep spike distorted
    // SOME keys" without spending line budget on the whole probe series.
    val calibs = scala.collection.mutable.ArrayBuffer.empty[Double]
    calibs += calibOnce()
    val results = keys.zipWithIndex.map { case (name, idx) =>
      if (idx > 0 && idx % 15 == 0) calibs += calibOnce()
      val t1 = timeOnce(name)
      val t2 = timeOnce(name)
      // (b) adaptive third run: a >2x disagreement between the two timed
      // runs means at least one landed in a contention window — min-of-2
      // then reports whichever spike was SMALLER. One more run gives an
      // independent third sample for the min; on a calm box the branch
      // never fires, so the sweep stays two runs per key.
      val best =
        if (!failed(name) && math.max(t1, t2) > 2 * math.min(t1, t2))
          math.min(math.min(t1, t2), timeOnce(name))
        else math.min(t1, t2)
      name -> best
    }
    calibs += calibOnce()
    val calibStart = calibs.head
    val calibEnd = calibs.last
    val calibMax = calibs.max
    // r11 self-healing (VERDICT #2): a key whose ENCLOSING calib probes
    // spiked was likely timed entirely inside a contention window —
    // min-of-N cannot escape a spike that outlasts all N runs (r10: the
    // driver recorded win_skyline at 16.27 s vs 0.92 steady; every run
    // sat in one window). Re-time the worst such offenders ONCE at sweep
    // end, when the box is presumably calmer, and keep the min. A calm
    // sweep (no probe above 1.5x the calmest) re-runs nothing.
    val resultMap = scala.collection.mutable.LinkedHashMap(results: _*)
    val (priorSrc, prior) = loadPrior()
    val rerunKeys = rerunCandidates(
      keys.map(k => k -> (if (failed(k)) None else Some(resultMap(k)))),
      calibs.toSeq, prior)
    rerunKeys.foreach { k =>
      val t = timeOnce(k)
      if (!failed(k) && t < resultMap(k)) {
        System.err.println(f"bench: rerun $k%s ${resultMap(k)}%.2f -> $t%.2f s")
        resultMap(k) = t
      }
    }
    // keys STILL over 1.5x their prior-round record after the rerun
    // pass: surface the count so the published record self-diagnoses
    // ("suspect":N says N numbers may carry residual contention — or a
    // real regression worth a targeted re-measure)
    val suspects = resultMap.count { case (k, v) =>
      !failed(k) && prior.get(k).exists(p => v > 1.5 * p)
    }
    // 2 dp: 10 ms resolution is ample for multi-second keys, and the
    // driver's ~2 KB stdout-tail capture must fit the whole line — at 66
    // keys the line is ~1.8 KB, so every char per key matters
    def r3(v: Double): String = f"$v%.2f"
    // a failed query must not masquerade as a latency number
    val qs = resultMap.map { case (k, v) =>
      "\"" + k + "\":" + (if (failed(k)) "null" else r3(v))
    }.mkString("{", ",", "}")
    val total = resultMap.collect { case (k, v) if !failed(k) => v }.sum
    val errs = if (failed.isEmpty) ""
      else failed.map("\"" + _ + "\"").mkString(""","errors":[""", ",", "]")
    // count only (the names are on stderr): the rerun marker must not
    // blow the ~1600-byte line budget BenchLineSpec pins
    val rr = if (rerunKeys.isEmpty) "" else s""","rerun":${rerunKeys.size}"""
    val sus = if (suspects == 0) "" else s""","suspect":$suspects"""
    println(s"""{"metric":"headline_total","value":${r3(total)},"unit":"sec","n":${resultMap.size},"calib":[${r3(calibStart)},${r3(calibEnd)}],"calibMax":${r3(calibMax)}$rr$sus,"prior":"$priorSrc","queries":$qs$errs,"sf":"$sfDir"}""")
    spark.stop()
  }
}
