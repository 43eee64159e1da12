package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Training-corpus preparation operators (SURVEY §2.K extensions): the
  * operations a large-scale LLM-data pipeline runs between raw crawl and
  * tokenized shards — sequence packing, stratified sampling, benchmark
  * decontamination, and duplicate-cluster representative selection.
  *
  * Each operator is a reusable `DataFrame => DataFrame` (the library API);
  * the query keys bind them to the `documents` testdata table. All four
  * are single-shuffle (or shuffle-free) shapes that hold at 100 TB:
  * packing and keep-best partition once on a bounded key; sampling and
  * decontamination are pure map-side filters.
  */
object Corpus extends graft.QueryModule {

  /** Greedy sequential sequence packing: concatenate documents in
    * `orderCol` order within a shard, cut a new pack every `budget`
    * tokens (doc granularity, +1 EOS token per doc).
    * `pack_id = floor((cumsum(tokens+1)-1)/budget)`.
    *
    * Scale shape: ONE hash exchange on the shard key (a real pipeline
    * uses a bounded `shard_id`), then a per-partition running sum — no
    * global coordination, packs are numbered independently per shard. */
  def packSequences(docs: DataFrame, shardCol: String, orderCol: String,
                    textCol: String, budget: Int): DataFrame = {
    val nTok = (size(split(col(textCol), " ")) + 1).as("n_tokens_eos")
    val w = Window.partitionBy(col(shardCol)).orderBy(col(orderCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs.select(col(orderCol), col(shardCol), nTok)
      .withColumn("pack_id",
        floor((sum(col("n_tokens_eos")).over(w) - 1) / budget).cast("long"))
  }

  /** Per-stratum deterministic downsampling: keep a row iff
    * `key % rate == 0`, where rate comes from a broadcast per-stratum dim
    * (strata absent from the dim are kept whole) — the rebalancing step
    * before training-mix assembly. `doc_id % rate` stands in for a
    * partition-stable hash so the DuckDB oracle can mirror it exactly.
    *
    * Scale shape: broadcast of the tiny rate dim + a map-side filter; no
    * shuffle at all. At 100 TB the same plan streams through every split. */
  def sampleStratified(docs: DataFrame, rates: DataFrame, stratumCol: String,
                       keyCol: String): DataFrame =
    docs
      .join(broadcast(rates), docs(stratumCol) === rates("stratum"), "left")
      .select(col(keyCol), col(stratumCol),
        coalesce(col("rate"), lit(1L)).as("rate"))
      .filter(pmod(col(keyCol), col("rate")) === 0)

  /** TOKEN-BUDGET training mix: each stratum contributes documents (in
    * deterministic `orderCol` order) until its token budget — a broadcast
    * per-stratum dim — is exhausted; the first doc to cross the line is
    * kept (budgets are "at least", matching how mixes are specced), the
    * rest of the stratum is dropped. One window cumsum per stratum, the
    * same parallel shape as [[packSequences]]. Strata absent from the
    * dim contribute nothing. */
  def mixByTokenBudget(docs: DataFrame, budgets: DataFrame,
                       stratumCol: String, orderCol: String,
                       textCol: String): DataFrame = {
    val w = Window.partitionBy(col(stratumCol)).orderBy(col(orderCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs
      .join(broadcast(budgets), docs(stratumCol) === budgets("stratum"), "inner")
      .select(col(orderCol), col(stratumCol), col("token_budget"),
        size(split(col(textCol), " ")).as("n_tokens"))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      // keep while the PREVIOUS cumulative total was still under budget:
      // the crossing document is included, everything after is cut
      .filter(col("cum_tokens") - col("n_tokens") < col("token_budget"))
      .select(col(orderCol), col(stratumCol), col("n_tokens"), col("cum_tokens"))
  }

  /** Length-bucketed batching: group documents of similar token length
    * into fixed-size batches so per-batch padding waste stays bounded —
    * the standard efficiency prep before tokenized training. Bucket =
    * token length / bucketWidth; batch = consecutive `batchSize` docs
    * within the bucket in deterministic id order. Window row_number per
    * bucket; bucket count is bounded by max doc length, so window
    * parallelism holds at scale. */
  def lengthBatches(docs: DataFrame, orderCol: String, textCol: String,
                    bucketWidth: Int, batchSize: Int): DataFrame = {
    val w = Window.partitionBy(col("len_bucket")).orderBy(col(orderCol))
    docs
      .select(col(orderCol), size(split(col(textCol), " ")).as("n_tokens"))
      .withColumn("len_bucket",
        floor(col("n_tokens") / bucketWidth).cast("int"))
      .withColumn("batch_id",
        floor((row_number().over(w) - 1) / batchSize).cast("long"))
  }

  /** Benchmark decontamination: count word-3-gram collisions between each
    * document and the probe set; a collision marks the document
    * contaminated (it contains evaluation data) so it is dropped before
    * training.
    *
    * Scale shape: the probe set (even a full benchmark suite) is tiny →
    * literal/broadcast; the 3-gram scan is pure map-side HOF work inside
    * whole-stage codegen — zero shuffle. For probe sets too large to
    * inline, the same semantics become: explode doc 3-gram *hashes* →
    * left-semi hash join against the probe-hash table (one shuffle,
    * candidate-only traffic). */
  def decontaminate(docs: DataFrame, keyCol: String, textCol: String,
                    probes: Seq[String]): DataFrame = {
    // materialize the word array as a column FIRST: inside a HOF lambda a
    // raw split(text) is an expression tree, re-evaluated on every lambda
    // invocation (one split per gram index — quadratic in doc length);
    // as a projected attribute it's computed once per row
    val ws = col("__ws")
    val grams = when(size(ws) >= 3,
      transform(sequence(lit(1), size(ws) - 2),
        i => concat_ws(" ", element_at(ws, i), element_at(ws, i + 1), element_at(ws, i + 2))))
      .otherwise(array())
    docs.select(col(keyCol), split(col(textCol), " ").as("__ws"))
      .select(col(keyCol),
        size(filter(grams, g => g.isInCollection(probes))).as("n_hits"))
      .withColumn("contaminated", col("n_hits") > 0)
  }

  /** [[decontaminate]]'s scale path for probe sets too large to inline:
    * explode each document's 3-grams, hash-join against the probe table,
    * count hits per doc. One shuffle keyed on the gram; docs with zero
    * hits come back via the left join's null side. Output is identical
    * to the HOF variant (asserted in CorpusSpec) — choose by probe-set
    * size: HOF when the probes fit a literal/broadcast (zero shuffle),
    * this when they're a table of their own. */
  def decontaminateLarge(docs: DataFrame, keyCol: String, textCol: String,
                         probes: DataFrame): DataFrame = {
    val ws = col("__ws")
    val grams = when(size(ws) >= 3,
      transform(sequence(lit(1), size(ws) - 2),
        i => concat_ws(" ", element_at(ws, i), element_at(ws, i + 1), element_at(ws, i + 2))))
      .otherwise(array())
    val hits = docs
      .select(col(keyCol), split(col(textCol), " ").as("__ws"))
      .select(col(keyCol), explode(grams).as("gram"))
      // distinct the probe side: duplicate grams in the probe table would
      // multiply n_hits and break equivalence with the HOF variant (which
      // tests set membership, not multiplicity)
      .join(probes.select(col("gram")).distinct(), Seq("gram"))
      .groupBy(col(keyCol))
      .agg(count(lit(1)).cast("int").as("n_hits"))
    docs.select(col(keyCol))
      .join(hits, Seq(keyCol), "left")
      .select(col(keyCol), coalesce(col("n_hits"), lit(0)).as("n_hits"))
      .withColumn("contaminated", col("n_hits") > 0)
  }

  /** [[decontaminate]]'s THIRD regime — probe sets too large even for the
    * explode+join path to be cheap: build a Bloom filter over the probe
    * grams once (`bloom_filter_agg`, a one-row scalar subquery shipped to
    * every task — the broadcast analog), test each exploded gram map-side
    * with `might_contain`, and count surviving hits per doc (the only
    * shuffle carries (doc, partial-count) rows for docs with flagged
    * grams — on a clean corpus, almost nothing). Bloom semantics: NO
    * false negatives (every truly contaminated doc is flagged — asserted
    * in CorpusSpec against the exact variant) and a tunable
    * false-positive rate (`expectedFpp`), the usual trade at 100 TB. */
  def decontaminateBloom(docs: DataFrame, keyCol: String, textCol: String,
                         probes: DataFrame, expectedItems: Long = 10000L,
                         expectedFpp: Double = 0.001): DataFrame = {
    val ws = col("__ws")
    val grams = when(size(ws) >= 3,
      transform(sequence(lit(1), size(ws) - 2),
        i => concat_ws(" ", element_at(ws, i), element_at(ws, i + 1), element_at(ws, i + 2))))
      .otherwise(array())
    graft.functions.VectorFunctions.register(probes.sparkSession)
    val numBits =
      math.ceil(-expectedItems * math.log(expectedFpp) / (math.log(2) * math.log(2))).toLong
    // might_contain demands a constant/scalar-subquery filter: build the
    // bits as a one-row aggregate and reference it as a scalar subquery
    // (evaluated once, shipped to every task — the broadcast analog)
    val bits = probes.select(col("gram")).distinct()
      .agg(call_function("graft_bloom_agg", xxhash64(col("gram")),
        lit(expectedItems), lit(numBits)).as("bits"))
      .scalar()
    val hits = docs
      .select(col(keyCol), split(col(textCol), " ").as("__ws"))
      .select(col(keyCol), explode(grams).as("gram"))
      .filter(call_function("graft_bloom_contains", bits, xxhash64(col("gram"))))
      .groupBy(col(keyCol))
      .agg(count(lit(1)).cast("int").as("n_hits"))
    docs.select(col(keyCol))
      .join(hits, Seq(keyCol), "left")
      .select(col(keyCol), coalesce(col("n_hits"), lit(0)).as("n_hits"))
      .withColumn("contaminated", col("n_hits") > 0)
  }

  /** Content fingerprint used by [[keepBest]]: md5 over lowercased,
    * whitespace-collapsed text. */
  def fingerprintCol(textCol: Column): Column =
    md5(regexp_replace(lower(textCol), "\\s+", " "))

  /** Duplicate-cluster representative selection ("keep best"): group by
    * content fingerprint, keep the longest member (ties → lowest key).
    * This is the step after any dedup pass: exact/minhash clusters exist,
    * one survivor per cluster continues to training.
    *
    * Scale shape: a plain hash aggregation — `max(struct(len, -key))`
    * selects the representative with full map-side partial combine, so
    * the one exchange carries one candidate row per (partition ×
    * fingerprint), never whole duplicate groups. (A row_number window
    * formulation would materialize every group in full: the group-size
    * count defeats the WindowGroupLimit partial-top-1 optimization.) */
  def keepBest(docs: DataFrame, keyCol: String, textCol: String,
               lenCol: String): DataFrame =
    docs
      .select(col(keyCol), col(lenCol), fingerprintCol(col(textCol)).as("fingerprint"))
      .groupBy(col("fingerprint"))
      .agg(
        max(struct(col(lenCol).as("len"), (-col(keyCol)).as("neg_key"))).as("best"),
        count(lit(1)).as("group_size"))
      .select((-col("best.neg_key")).as(keyCol), col("fingerprint"),
        col("best.len").as(lenCol), col("group_size"))

  /** Deterministic train/valid/test split assignment — the
    * reproducibility primitive of every training-data pipeline: the
    * split is a pure function of (key, salt), so re-running the pipeline
    * on a grown corpus never moves an old document across splits (a
    * `rand()`-based split reshuffles everything on every run and leaks
    * eval data into training). md5 is used as the hash because both
    * engines share it bit-for-bit; the first 4 hex chars → 0..65535 →
    * percent bucket. Narrow, stateless, embarrassingly parallel — a
    * pure projection at any scale. Change `salt` to draw a fresh split. */
  def splitAssign(docs: DataFrame, keyCol: String, salt: String = "graft",
                  trainPct: Int = 80, validPct: Int = 10): DataFrame = {
    val bucket =
      (graft.functions.VectorFunctions.hex_long(
        md5(concat(col(keyCol).cast("string"), lit(":" + salt))), 1, 4)
        .cast("int") % 100).as("bucket")
    docs.select(col(keyCol), bucket)
      .withColumn("split",
        when(col("bucket") < trainPct, "train")
          .when(col("bucket") < trainPct + validPct, "valid")
          .otherwise("test"))
  }

  // ---- query-key bindings over the documents testdata table ----

  /** Benchmark probe 3-grams for the decontamination key (stand-ins for
    * eval-set shingles; chosen to actually hit the synthetic corpus). */
  private val probes = Seq("stream table hash", "window fast query", "part filter scan")

  /** Stages 1-2 of [[cleanPipeline]] over the documents table: the
    * quality gate (length floors) and language selection. */
  private[graft] def gatedDocs(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .filter(col("n_chars") >= 100 &&
        size(split(col("text"), " ")) >= 20 &&
        col("lang").isin("en", "fr", "de"))

  /** Stage 3 of [[cleanPipeline]] over [[gatedDocs]]: exact-document
    * dedup on the raw text (md5, lowest doc_id wins). */
  private[graft] def exactDocs(s: SparkSession, d: String): DataFrame =
    gatedDocs(s, d)
      .withColumn("h", md5(col("text")))
      .groupBy(col("h"))
      .agg(min(struct(col("doc_id"), col("lang"), col("text"))).as("w"))
      .select(col("w.doc_id").as("doc_id"), col("w.lang").as("lang"),
        col("w.text").as("text"))

  /** The whole C4/RefinedWeb-style cleaning pipeline — the composition
    * showpiece: every stage is an operator this library already ships
    * individually, chained so Catalyst plans the chain end to end
    * (stage fusion, one shuffle per keyed step, pushdown through the
    * lot) instead of six materialized hops:
    *
    *  1. quality gate (length floors),
    *  2. language selection,
    *  3. exact-document dedup on the raw text (md5, lowest doc_id wins),
    *  4. NEAR-dup collapse (r7): the linear md5-minhash cluster pipeline
    *     ([[Dedup.md5ClusterAssign]] — band join, Jaccard verify,
    *     connected components), keeping each cluster's min-id
    *     representative — removes the reworded copies stage 3 cannot
    *     (CorpusSpec proves the stage drops non-identical docs). The CC
    *     iteration is the chain's one deliberately-iterative element.
    *  5. corpus-global line dedup (first occurrence of each 10-word
    *     line survives, docs reassemble),
    *  6. decontamination (drop docs containing an eval-set phrase),
    *
    * emitting per-surviving-doc stats. The oracle mirrors the chain
    * stage for stage (the near-dup stage via the generated
    * [[Dedup.md5ClusterChainSql]] CTEs), so the hash check proves
    * six-stage composition loses nothing vs the per-operator
    * semantics. */
  private def cleanPipeline(s: SparkSession, d: String): DataFrame = {
    // r15 (guide §2.4/§5): materialize the exact-dedup stage ONCE. Its
    // subplan (scan + quality filter + md5 + the min-struct hash-agg) is
    // referenced four-plus times downstream — the near-dup stage's band
    // rows, the verify stage's id arrays AND sizes, the CC node set, and
    // the left-semi survivor join — and nothing above it is checkpointed,
    // so every reference re-ran the whole scan+agg. One localCheckpoint
    // replaces 4-5 recomputations with one pass + cheap block reads.
    val exact = graft.Ckpt.cut(exactDocs(s, d))
    val reps = Dedup.md5ClusterAssign(exact.select(col("doc_id"), col("text")))
      .filter(col("doc_id") === col("cluster_id")).select(col("doc_id"))
    val nearDeduped = exact.join(reps, Seq("doc_id"), "left_semi")
    nearDeduped
      .select(col("doc_id"), col("lang"), split(col("text"), " ").as("ws"))
      .select(col("doc_id"), col("lang"), posexplode(expr(
        """transform(sequence(0, CAST(ceil(size(ws) / 10.0) AS INT) - 1),
          |  i -> array_join(slice(ws, i * 10 + 1, 10), ' '))""".stripMargin))
        .as(Seq("line_idx", "line")))
      .groupBy(col("line"))
      .agg(min(struct(col("doc_id"), col("line_idx"), col("lang"))).as("w"))
      .select(col("w.doc_id").as("doc_id"), col("w.lang").as("lang"),
        col("w.line_idx").as("line_idx"), col("line"))
      .groupBy(col("doc_id"), col("lang"))
      .agg(count(lit(1)).as("n_lines"),
        array_join(transform(array_sort(collect_list(
          struct(col("line_idx"), col("line")))), e => e("line")), " ")
          .as("text_out"))
      .filter(!col("text_out").contains("spark query window") &&
        !col("text_out").contains("table scan merge"))
      .select(col("doc_id"), col("lang"), col("n_lines"),
        length(col("text_out")).as("n_chars_out"))
      .orderBy("doc_id")
  }

  /** Weighted sampling without replacement [N] — Efraimidis–Spirakis
    * A-Res (2006), the length-weighted document sampler a training-mix
    * builder uses when long documents should be proportionally more
    * likely: each doc draws E_i = −ln(u_i)/w_i (an Exponential(w_i)
    * jitter; w = n_chars) and the k SMALLEST per language win.
    * Determinism: u comes from md5 hex (exact (h+1)/2³² — a power-of-two
    * division, so u is the SAME double on both engines), ln pins at 9dp
    * before the weight division, and the rank order ties-break on
    * doc_id — a total order.
    *
    * Scale shape: stateless map to priorities + one per-stratum top-k
    * window (TakeOrdered-class); no corpus-scale sort, no shuffle
    * beyond the stratum key. */
  def sampleWeighted(s: SparkSession, d: String, k: Int = 10): DataFrame = {
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("priority").asc, col("doc_id").asc)
    Tables.documents(s, d)
      .filter(col("n_chars") > 0)
      .selectExpr("doc_id", "lang", "n_chars",
        "graft_hex_long(md5(concat('ws:', cast(doc_id as string))), 1, 8) as h")
      .selectExpr("doc_id", "lang", "n_chars",
        "-bround(ln((h + 1) / 4294967296.0), 9) / n_chars as priority")
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("lang"), col("rk"), col("doc_id"), col("n_chars"),
        col("priority"))
      .orderBy("lang", "rk")
  }

  private val sampleWeightedOracle = {
    val hex8 = (0 until 8).map { i =>
      val f = 1L << (4 * (7 - i))
      s"(strpos('0123456789abcdef', substr(md5('ws:' || CAST(doc_id AS VARCHAR)), ${i + 1}, 1)) - 1) * $f"
    }.mkString("(", "\n      + ", ")")
    s"""WITH pri AS (
       |  SELECT doc_id, lang, n_chars,
       |         -round_even(ln(($hex8 + 1) / 4294967296.0), 9) / n_chars
       |           AS priority
       |  FROM documents WHERE n_chars > 0),
       |ranked AS (
       |  SELECT lang, doc_id, n_chars, priority,
       |         CAST(row_number() OVER (PARTITION BY lang
       |           ORDER BY priority ASC, doc_id ASC) AS INTEGER) AS rk
       |  FROM pri)
       |SELECT lang, rk, doc_id, n_chars, priority
       |FROM ranked WHERE rk <= 10
       |ORDER BY lang, rk""".stripMargin
  }

  /** Deterministic global training-order shuffle [N] [r9] — the
    * reproducible alternative to `ORDER BY rand()`: the permutation key
    * is `md5('shuf:' || doc_id)`, so the training order is identical
    * across retries, partition counts and engines (the property
    * `rand()` cannot give a resumable 100 TB training job), and the
    * round-robin shard assignment is just `(pos − 1) % 64`. Position
    * comes from [[graft.ops.GlobalRank]] — range partitions + offsets,
    * NO single-partition window — and the uniform md5 keys make the
    * range exchange near-perfectly balanced by construction. */
  private def globalShuffle(s: SparkSession, d: String): DataFrame = {
    val keyed = Tables.documents(s, d)
      .select(col("doc_id"),
        md5(concat(lit("shuf:"), col("doc_id").cast("string"))).as("k"))
    graft.ops.GlobalRank.withRank(keyed, Seq(col("k"), col("doc_id")), "pos")
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        pmod(col("pos") - 1, lit(64)).cast("int").as("shard"))
      .orderBy("doc_id")
  }

  /** URL canonicalization + dedup [N] — the first stage of every web-
    * crawl pipeline (CommonCrawl-style): normalize each document's URL
    * and collapse the crawl to one representative per canonical URL.
    * The corpus carries no URLs, so the raw URL is SYNTHESIZED
    * deterministically per doc (mixed-case scheme/host, www. prefix,
    * trailing slash, utm_* tracking params, fragment — the five noise
    * classes a canonicalizer must erase), then normalized with engine-
    * portable string ops only:
    *   1. lowercase scheme + host, strip the `www.` prefix,
    *   2. drop the fragment,
    *   3. strip the trailing slash from the path,
    *   4. drop `utm_*` tracking params, keep the rest in order.
    * Dedup keeps min(doc_id) per canonical URL (the `dedup_exact`
    * keep-rule). Scale shape: pure per-row string work (zero joins)
    * into one hash agg on the canonical key — the cheapest possible
    * dedup plan; at 100 TB the agg map-side combines because
    * duplicates share partitions only after the shuffle-on-key, which
    * is the operator's one unavoidable shuffle. */
  private def urlNormalize(s: SparkSession, d: String): DataFrame = {
    val raw = concat(
      when(col("doc_id") % 3 === 0, lit("HTTPS")).otherwise(lit("https")),
      lit("://"),
      when(col("doc_id") % 2 === 0,
        concat(lit("WWW.Site"), (col("doc_id") % 7).cast("string"),
          lit(".COM")))
        .otherwise(concat(lit("site"), (col("doc_id") % 7).cast("string"),
          lit(".com"))),
      lit("/"), col("source"), lit("/page"),
      expr("cast(doc_id div 4 as string)"),
      when(col("doc_id") % 5 === 0, lit("/")).otherwise(lit("")),
      lit("?utm_source=feed&ref="), (col("doc_id") % 2).cast("string"),
      lit("&utm_campaign=x"),
      when(col("doc_id") % 4 === 0, lit("#frag")).otherwise(lit("")))
    Tables.documents(s, d)
      .select(col("doc_id"), raw.as("url"))
      .withColumn("scheme",
        lower(regexp_extract(col("url"), "^([a-zA-Z]+)://", 1)))
      .withColumn("host",
        regexp_replace(
          lower(regexp_extract(col("url"), "^[a-zA-Z]+://([^/?#]+)", 1)),
          "^www\\.", ""))
      .withColumn("path",
        regexp_replace(
          regexp_extract(col("url"), "^[a-zA-Z]+://[^/?#]+([^?#]*)", 1),
          "/$", ""))
      .withColumn("qs",
        array_join(
          expr("filter(split(regexp_extract(url, '\\\\?([^#]*)', 1), '&')," +
            " p -> NOT startswith(p, 'utm_'))"), "&"))
      .select(col("doc_id"),
        concat(col("scheme"), lit("://"), col("host"), col("path"),
          when(col("qs") =!= "", concat(lit("?"), col("qs")))
            .otherwise(lit(""))).as("canonical_url"))
      .groupBy(col("canonical_url"))
      .agg(count(lit(1)).as("n_dups"), min(col("doc_id")).as("keep_doc"))
      .orderBy("canonical_url")
  }

  private val urlNormalizeOracle =
    """WITH raw AS (
      |  SELECT doc_id,
      |         (CASE WHEN doc_id % 3 = 0 THEN 'HTTPS' ELSE 'https' END)
      |         || '://'
      |         || (CASE WHEN doc_id % 2 = 0
      |             THEN 'WWW.Site' || CAST(doc_id % 7 AS VARCHAR) || '.COM'
      |             ELSE 'site' || CAST(doc_id % 7 AS VARCHAR) || '.com' END)
      |         || '/' || source || '/page' || CAST(doc_id // 4 AS VARCHAR)
      |         || (CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END)
      |         || '?utm_source=feed&ref=' || CAST(doc_id % 2 AS VARCHAR)
      |         || '&utm_campaign=x'
      |         || (CASE WHEN doc_id % 4 = 0 THEN '#frag' ELSE '' END)
      |           AS url
      |  FROM documents),
      |parts AS (
      |  SELECT doc_id,
      |         lower(regexp_extract(url, '^([a-zA-Z]+)://', 1)) AS scheme,
      |         regexp_replace(
      |           lower(regexp_extract(url, '^[a-zA-Z]+://([^/?#]+)', 1)),
      |           '^www\.', '') AS host,
      |         regexp_replace(
      |           regexp_extract(url, '^[a-zA-Z]+://[^/?#]+([^?#]*)', 1),
      |           '/$', '') AS path,
      |         array_to_string(
      |           list_filter(string_split(regexp_extract(url, '\?([^#]*)', 1),
      |                                    '&'),
      |                       p -> NOT starts_with(p, 'utm_')), '&') AS qs
      |  FROM raw),
      |canon AS (
      |  SELECT doc_id,
      |         scheme || '://' || host || path
      |         || (CASE WHEN qs <> '' THEN '?' || qs ELSE '' END)
      |           AS canonical_url
      |  FROM parts)
      |SELECT canonical_url, count(*) AS n_dups, min(doc_id) AS keep_doc
      |FROM canon GROUP BY 1 ORDER BY canonical_url""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_url_normalize" -> urlNormalize,
    "corpus_clean_pipeline" -> cleanPipeline,
    "text_global_shuffle" -> globalShuffle,
    "text_sample_weighted" -> ((s, d) => sampleWeighted(s, d)),
    "text_split_assign" -> ((s, d) =>
      splitAssign(Tables.documents(s, d), "doc_id").orderBy("doc_id")),
    "text_mix_budget" -> ((s, d) => {
      import s.implicits._
      val budgets = Seq(("en", 2000L), ("fr", 1000L), ("de", 500L))
        .toDF("stratum", "token_budget")
      mixByTokenBudget(Tables.documents(s, d), budgets, "lang", "doc_id", "text")
        .select(col("doc_id"), col("lang"), col("n_tokens"), col("cum_tokens"))
        .orderBy("doc_id")
    }),
    "text_length_batches" -> ((s, d) =>
      lengthBatches(Tables.documents(s, d), "doc_id", "text",
        bucketWidth = 16, batchSize = 8)
        .orderBy("doc_id")),
    "text_pack_sequences" -> ((s, d) =>
      packSequences(Tables.documents(s, d), "lang", "doc_id", "text", 2048)
        .orderBy("doc_id")),
    // the scale-shard demo: a real pipeline packs within a BOUNDED
    // synthetic shard key (64-way here), not a 4-value lang column whose
    // cardinality caps window parallelism at 100 TB — same packing
    // semantics per shard, 64 independent cumsum partitions
    "text_pack_shards" -> ((s, d) =>
      packSequences(
        Tables.documents(s, d).withColumn("shard_id", pmod(col("doc_id"), lit(64L))),
        "shard_id", "doc_id", "text", 2048)
        .orderBy("doc_id")),
    "text_sample_stratified" -> ((s, d) => {
      import s.implicits._
      sampleStratified(Tables.documents(s, d),
        Seq(("en", 3L)).toDF("stratum", "rate"), "lang", "doc_id")
        .orderBy("doc_id")
    }),
    "text_decontaminate" -> ((s, d) =>
      decontaminate(Tables.documents(s, d), "doc_id", "text", probes)
        .orderBy("doc_id")),
    // FIXED-BUDGET deterministic reservoir sample [N] (r14): exactly
    // min(k, |stratum|) docs per language — the fixed-budget
    // counterpart of text_sample_stratified's rate form (a curated
    // eval slice or per-language subcorpus wants a COUNT, not a rate).
    // Reservoir semantics without randomness: rank within each stratum
    // by the uniform corpus-independent md5 coin and keep the first k,
    // so membership is retry-stable and independent of arrival order.
    // One window over the stratum partition; with few strata at 100 TB
    // the rank runs partial top-k per partition first if salted like
    // text_pack_shards' shard key — same note as there.
    "text_sample_fixed_k" -> ((s, d) => {
      val w = Window.partitionBy(col("lang")).orderBy(
        md5(concat(lit("resv:"), col("doc_id").cast("string"))),
        col("doc_id"))
      Tables.documents(s, d)
        .withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= 100)
        .select(col("doc_id"), col("lang"), col("rk"))
        .orderBy("doc_id")
    }),
    "dedup_keep_best" -> ((s, d) =>
      keepBest(Tables.documents(s, d), "doc_id", "text", "n_chars")
        .orderBy("doc_id")))

  val oracles: Map[String, String] = Map(
    "text_url_normalize" -> urlNormalizeOracle,
    "text_global_shuffle" ->
      """WITH r AS (
        |  SELECT doc_id,
        |         CAST(row_number() OVER (
        |           ORDER BY md5('shuf:' || CAST(doc_id AS VARCHAR)), doc_id)
        |           AS BIGINT) AS pos
        |  FROM documents)
        |SELECT doc_id, pos, CAST((pos - 1) % 64 AS INTEGER) AS shard
        |FROM r ORDER BY doc_id""".stripMargin,
    "text_sample_weighted" -> sampleWeightedOracle,
    "corpus_clean_pipeline" ->
      s"""WITH docs AS (
         |  SELECT doc_id, lang, text FROM documents
         |  WHERE n_chars >= 100 AND len(string_split(text, ' ')) >= 20
         |    AND lang IN ('en', 'fr', 'de')),
         |ex AS (
         |  SELECT doc_id, lang, text FROM
         |    (SELECT *, row_number() OVER (
         |       PARTITION BY md5(text) ORDER BY doc_id) AS rn
         |     FROM docs) WHERE rn = 1),
         |${Dedup.md5ClusterChainSql("ex", "text")},
         |nd AS (
         |  SELECT e.doc_id, e.lang, e.text
         |  FROM ex e JOIN clusters cl ON e.doc_id = cl.doc_id
         |  WHERE cl.doc_id = cl.cluster_id),
         |lc AS (
         |  SELECT doc_id, lang, i AS line_idx,
         |         array_to_string(ws[i*10 + 1 : i*10 + 10], ' ') AS line
         |  FROM (SELECT doc_id, lang, string_split(text, ' ') AS ws
         |        FROM nd) t,
         |       unnest(range(0, CAST(ceil(len(ws) / 10.0) AS BIGINT))) t2(i)),
         |sl AS (
         |  SELECT doc_id, lang, line_idx, line FROM
         |    (SELECT doc_id, lang, line_idx, line, row_number() OVER (
         |       PARTITION BY line ORDER BY doc_id, line_idx) AS rn
         |     FROM lc) WHERE rn = 1),
         |rs AS (
         |  SELECT doc_id, lang, count(*) AS n_lines,
         |         string_agg(line, ' ' ORDER BY line_idx) AS text_out
         |  FROM sl GROUP BY doc_id, lang)
         |SELECT doc_id, lang, CAST(n_lines AS BIGINT) AS n_lines,
         |       CAST(length(text_out) AS INTEGER) AS n_chars_out
         |FROM rs
         |WHERE NOT contains(text_out, 'spark query window')
         |  AND NOT contains(text_out, 'table scan merge')
         |ORDER BY doc_id""".stripMargin,
    // DuckDB has no conv(hex, 16, 10): the 4 hex digits are decoded by a
    // strpos polynomial (same trick as the md5 LSH oracle twins)
    "text_split_assign" ->
      """WITH h AS (SELECT doc_id,
        |  substr(md5(CAST(doc_id AS VARCHAR) || ':graft'), 1, 4) AS hx
        |  FROM documents),
        |b AS (SELECT doc_id, CAST((
        |    (strpos('0123456789abcdef', substr(hx, 1, 1)) - 1) * 4096
        |  + (strpos('0123456789abcdef', substr(hx, 2, 1)) - 1) * 256
        |  + (strpos('0123456789abcdef', substr(hx, 3, 1)) - 1) * 16
        |  + (strpos('0123456789abcdef', substr(hx, 4, 1)) - 1)) % 100 AS INTEGER) AS bucket
        |  FROM h)
        |SELECT doc_id, bucket,
        |       CASE WHEN bucket < 80 THEN 'train'
        |            WHEN bucket < 90 THEN 'valid'
        |            ELSE 'test' END AS split
        |FROM b ORDER BY doc_id""".stripMargin,
    "text_mix_budget" ->
      """WITH b(stratum, token_budget) AS (
        |  VALUES ('en', 2000), ('fr', 1000), ('de', 500)),
        |t AS (SELECT doc_id, lang, len(string_split(text, ' ')) AS n_tokens
        |      FROM documents),
        |c AS (
        |  SELECT t.doc_id, t.lang, b.token_budget, t.n_tokens,
        |         sum(t.n_tokens) OVER (PARTITION BY t.lang ORDER BY t.doc_id
        |           ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM t JOIN b ON t.lang = b.stratum)
        |SELECT doc_id, lang, CAST(n_tokens AS INTEGER) AS n_tokens,
        |       CAST(cum AS BIGINT) AS cum_tokens
        |FROM c WHERE cum - n_tokens < token_budget
        |ORDER BY doc_id""".stripMargin,
    "text_length_batches" ->
      """WITH t AS (
        |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, n_tokens,
        |         CAST(floor(n_tokens / 16.0) AS INTEGER) AS len_bucket
        |  FROM t)
        |SELECT doc_id, n_tokens, len_bucket,
        |       CAST(floor((row_number() OVER (PARTITION BY len_bucket
        |         ORDER BY doc_id) - 1) / 8.0) AS BIGINT) AS batch_id
        |FROM c ORDER BY doc_id""".stripMargin,
    "text_pack_sequences" ->
      """SELECT doc_id, lang,
        |       CAST(len(string_split(text, ' ')) + 1 AS INTEGER) AS n_tokens_eos,
        |       CAST(floor((sum(len(string_split(text, ' ')) + 1) OVER
        |         (PARTITION BY lang ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - 1) / 2048)
        |         AS BIGINT) AS pack_id
        |FROM documents ORDER BY doc_id""".stripMargin,
    "text_pack_shards" ->
      """SELECT doc_id, CAST(doc_id % 64 AS BIGINT) AS shard_id,
        |       CAST(len(string_split(text, ' ')) + 1 AS INTEGER) AS n_tokens_eos,
        |       CAST(floor((sum(len(string_split(text, ' ')) + 1) OVER
        |         (PARTITION BY doc_id % 64 ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - 1) / 2048)
        |         AS BIGINT) AS pack_id
        |FROM documents ORDER BY doc_id""".stripMargin,
    "text_sample_stratified" ->
      """SELECT doc_id, lang,
        |       CAST(CASE WHEN lang = 'en' THEN 3 ELSE 1 END AS BIGINT) AS rate
        |FROM documents
        |WHERE doc_id % (CASE WHEN lang = 'en' THEN 3 ELSE 1 END) = 0
        |ORDER BY doc_id""".stripMargin,
    "text_sample_fixed_k" ->
      """WITH r AS (
        |  SELECT doc_id, lang,
        |         CAST(row_number() OVER (PARTITION BY lang
        |           ORDER BY md5('resv:' || CAST(doc_id AS VARCHAR)), doc_id)
        |           AS BIGINT) AS rk
        |  FROM documents)
        |SELECT doc_id, lang, rk FROM r WHERE rk <= 100
        |ORDER BY doc_id""".stripMargin,
    "text_decontaminate" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |g AS (SELECT doc_id,
        |             CASE WHEN len(ws) >= 3
        |                  THEN list_transform(range(1, len(ws) - 1),
        |                         i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])
        |                  ELSE [] END AS grams
        |      FROM w)
        |SELECT doc_id,
        |       CAST(len(list_filter(grams, x -> x IN
        |         ('stream table hash', 'window fast query', 'part filter scan'))) AS INTEGER) AS n_hits,
        |       CAST(len(list_filter(grams, x -> x IN
        |         ('stream table hash', 'window fast query', 'part filter scan'))) AS INTEGER) > 0 AS contaminated
        |FROM g ORDER BY doc_id""".stripMargin,
    "dedup_keep_best" ->
      """WITH fp AS (
        |  SELECT doc_id, n_chars,
        |         md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fingerprint
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, fingerprint, n_chars,
        |         CAST(row_number() OVER (PARTITION BY fingerprint
        |           ORDER BY n_chars DESC, doc_id ASC) AS INTEGER) AS rn,
        |         CAST(count(*) OVER (PARTITION BY fingerprint) AS BIGINT) AS group_size
        |  FROM fp)
        |SELECT doc_id, fingerprint, n_chars, group_size
        |FROM r WHERE rn = 1 ORDER BY doc_id""".stripMargin)
}
