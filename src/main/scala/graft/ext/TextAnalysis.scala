package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{ParquetFrame, Tables}

/** SURVEY.md §2.K — text analysis for training-data pipelines: token
  * counting, corpus term frequencies, heuristic language ID, quality
  * scoring, and content fingerprinting — all native expressions over
  * `documents.text`.
  */
object TextAnalysis extends graft.QueryModule {

  private val stopwords = Seq("the", "a", "of", "and", "or")

  /** Token counts per document: whitespace tokenizer + a BPE-ish regex
    * tokenizer (letter runs / digit runs / single punctuation). */
  private def tokens(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(
      col("doc_id"),
      size(split(col("text"), " ")).as("n_tokens"),
      size(array_distinct(split(col("text"), " "))).as("n_distinct"),
      size(regexp_extract_all(col("text"), lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0)))
        .as("n_subtokens"))
      .orderBy("doc_id")

  /** Corpus data card [N] — the one-row "nutrition label" a training
    * pipeline publishes with every corpus build: document/token/
    * language/source counts, the exact-dup fingerprint rate (share of
    * docs whose whitespace-normalized md5 collides), and mean doc
    * length. ONE hash agg over a projected scan (distinct-counts
    * combine map-side); the rates are IEEE divisions of exact counts.
    * Cheap enough to run on every refresh at any corpus size. */
  private def datacard(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
        size(split(col("text"), " ")).cast("long").as("toks"),
        md5(regexp_replace(lower(col("text")), "\\s+", " ")).as("fp"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("toks")).as("n_tokens"),
        countDistinct(col("lang")).as("n_langs"),
        countDistinct(col("source")).as("n_sources"),
        countDistinct(col("fp")).as("n_distinct_fp"),
        sum(col("n_chars").cast("long")).as("sum_chars"))
      .select(col("n_docs"), col("n_tokens"), col("n_langs"),
        col("n_sources"),
        (lit(1.0) - col("n_distinct_fp").cast("double") /
          col("n_docs").cast("double")).as("dup_rate"),
        (col("sum_chars").cast("double") / col("n_docs").cast("double"))
          .as("mean_chars"))

  /** Gopher quality rules [N] (Rae et al. 2021, §A1.1 — the canonical
    * LLM pre-training document filter, reported rule-by-rule): word
    * count in [5, 10000] (floor scaled to the synthetic corpus' short
    * docs; Gopher's 50 assumes web pages), mean word length in [3, 10]
    * chars, symbol-to-word ratio ≤ 0.1, ≥ 80% of words contain an
    * alphabetic char, ≥ 2 stopword hits. All EXACT integer counts per
    * doc with two IEEE ratio comparisons; a narrow map-side projection
    * (no explode — the HOF counting runs inside the scan) at any
    * corpus size. */
  private def gopherRules(s: SparkSession, d: String): DataFrame = {
    val words = split(col("text"), " ")
    val nWords = size(words)
    val sumLen = expr("aggregate(transform(split(text, ' '), w -> length(w)), 0, (a, x) -> a + x)")
    val nAlpha = size(filter(words, w => w.rlike("[a-z]")))
    val nSym = size(filter(words, w => w.rlike("^[#@\\$%\\^&\\*]+$")))
    val nStop = size(filter(words, w => w.isInCollection(stopwords)))
    Tables.documents(s, d).select(
      col("doc_id"), nWords.as("n_words"),
      (nWords >= 5 && nWords <= 10000).as("r_count"),
      (sumLen.cast("double") / nWords.cast("double") >= 3.0 &&
        sumLen.cast("double") / nWords.cast("double") <= 10.0).as("r_wordlen"),
      (nSym.cast("double") / nWords.cast("double") <= 0.1).as("r_symbols"),
      (nAlpha.cast("double") / nWords.cast("double") >= 0.8).as("r_alpha"),
      (nStop >= 2).as("r_stopwords"))
      .withColumn("pass",
        col("r_count") && col("r_wordlen") && col("r_symbols") &&
          col("r_alpha") && col("r_stopwords"))
      .orderBy("doc_id")
  }

  /** In-engine LEARNED text-quality classifier [N] (r11, VERDICT #6) —
    * the CCNet/fastText-style filter completing the quality family next
    * to the rule batteries: a logistic scorer TRAINED AND APPLIED
    * entirely in SQL-expressible ops.
    *
    *  - features: the `feat_hashing_trick` hashed bag-of-words at
    *    D=[[tqcD]] signed buckets (vocabulary-free — the property that
    *    matters at 100 TB: no dictionary to build or broadcast) plus a
    *    bias slot (idx −1, x = 1). All feature values are exact
    *    integers.
    *  - label: the `text_gopher_rules` pass flag — weak supervision
    *    from the rule battery, the standard bootstrap for a learned
    *    quality filter (CCNet trains against Wikipedia as the "clean"
    *    class; here the rules play that role).
    *  - training: [[tqcIters]] batch-GD rounds under the
    *    `stats_logistic_gd` pinning discipline — per-doc σ pins at 6dp
    *    before entering any sum, residual×feature products are exact
    *    decimals (6dp × integer), each weight update re-pins at 12dp —
    *    so every round runs on identical numbers in both engines and
    *    the oracle unrolls the rounds as CTEs.
    *
    * 100 TB shape: the feature build is one explode + hash agg; each GD
    * round is feats ⋈ broadcast(17-row weights) + one hash agg per side
    * — the allreduce-gradient shape with the reduce done by the engine.
    * Output: per-doc 6dp score, sign prediction, and the training
    * label; TextAnalysisSpec pins that the learned scorer ranks the
    * rule-failing (garbage) docs below the clean ones. */
  private val tqcD = 16
  private val tqcIters = 3
  private val tqcLr = "0.1"

  private def qualityClassifier(s: SparkSession, d: String): DataFrame = {
    val words = split(col("text"), " ")
    val nWords = size(words)
    val sumLen = expr(
      "aggregate(transform(split(text, ' '), w -> length(w)), 0, (a, x) -> a + x)")
    val nAlpha = size(filter(words, w => w.rlike("[a-z]")))
    val nSym = size(filter(words, w => w.rlike("^[#@\\$%\\^&\\*]+$")))
    val nStop = size(filter(words, w => w.isInCollection(stopwords)))
    val labels = Tables.documents(s, d).select(col("doc_id"),
      when(nWords >= 5 && nWords <= 10000 &&
        sumLen.cast("double") / nWords.cast("double") >= 3.0 &&
        sumLen.cast("double") / nWords.cast("double") <= 10.0 &&
        nSym.cast("double") / nWords.cast("double") <= 0.1 &&
        nAlpha.cast("double") / nWords.cast("double") >= 0.8 &&
        nStop >= 2, 1L).otherwise(0L).as("y"))
    val hashed = Tables.documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "")
      .selectExpr("doc_id",
        s"graft_hex_long(md5(concat(w, ':hash')), 1, 4) % $tqcD as idx",
        "case when graft_hex_long(md5(concat(w, ':hash')), 5, 1)" +
          " % 2 = 0 then 1L else -1L end as sign")
      .groupBy(col("doc_id"), col("idx"))
      .agg(sum(col("sign")).as("v"))
    val feats = hashed
      .union(Tables.documents(s, d)
        .select(col("doc_id"), lit(-1L).as("idx"), lit(1L).as("v")))
      .join(labels, Seq("doc_id"))
      .localCheckpoint() // every GD round re-reads the feature relation
    val nd = Tables.documents(s, d)
      .agg(count(lit(1)).cast("double").as("nd"))
    // z = Σ w·x as an EXACT decimal: (18,12)×(8,0) products sum losslessly
    def zOf(wRel: DataFrame): DataFrame =
      feats.join(broadcast(wRel), Seq("idx"))
        .selectExpr("doc_id", "y",
          "cast(cast(w as decimal(18,12)) * cast(v as decimal(8,0))" +
            " as decimal(27,12)) as t")
        .groupBy(col("doc_id"), col("y"))
        .agg(sum(col("t")).cast("decimal(38,12)").as("z"))
    var w = s.sql(s"SELECT explode(sequence(-1, ${tqcD - 1})) AS idx, " +
      "CAST(0 AS DECIMAL(18,12)) AS w")
    for (_ <- 1 to tqcIters) {
      val sig = zOf(w).selectExpr("doc_id",
        "cast(bround(1 / (1 + exp(-cast(z as double))), 6)" +
          " as decimal(18,6)) as sig")
      val grad = feats.join(sig, Seq("doc_id"))
        .selectExpr("idx",
          "cast(cast(cast(sig as decimal(18,6)) - cast(y as decimal(18,6))" +
            " as decimal(18,6)) * cast(v as decimal(8,0))" +
            " as decimal(27,6)) as g")
        .groupBy(col("idx")).agg(sum(col("g")).cast("decimal(38,6)").as("g"))
      w = w.join(grad, Seq("idx"), "left")
        .crossJoin(broadcast(nd))
        .selectExpr("idx",
          s"cast(bround(cast(w as double) - $tqcLr * " +
            "(cast(coalesce(g, cast(0 as decimal(38,6))) as double) / nd)," +
            " 12) as decimal(18,12)) as w")
        .localCheckpoint()
    }
    zOf(w).selectExpr("doc_id",
      "bround(cast(z as double), 6) as score",
      "cast(z as double) > 0 as pred",
      "y as label")
      .orderBy("doc_id")
  }

  /** Oracle for [[qualityClassifier]]: the hashing-trick feature CTEs
    * (strpos hex polynomial), the gopher-pass label CTE, and the GD
    * rounds unrolled — every σ/residual/update on the same pinned grid
    * as the Spark plan. */
  private def qualityClassifierOracle: String = {
    val hex4 = (0 until 4).map { i =>
      s"(strpos('0123456789abcdef', substr(md5(w || ':hash'), ${i + 1}, 1))" +
        s" - 1) * ${1L << (4 * (3 - i))}"
    }.mkString("(", " + ", ")")
    val sign = "(strpos('0123456789abcdef', substr(md5(w || ':hash'), 5, 1)) - 1)"
    def it(k: Int) =
      s"""sc$k AS (
         |  SELECT f.doc_id, f.y,
         |         CAST(sum(CAST(CAST(w.w AS DECIMAL(18,12))
         |           * CAST(f.v AS DECIMAL(8,0)) AS DECIMAL(27,12)))
         |           AS DECIMAL(38,12)) AS z
         |  FROM fy f JOIN it${k - 1} w ON f.idx = w.idx GROUP BY 1, 2),
         |sg$k AS (
         |  SELECT doc_id,
         |         CAST(round_even(1 / (1 + exp(-CAST(z AS DOUBLE))), 6)
         |           AS DECIMAL(18,6)) AS sig
         |  FROM sc$k),
         |gr$k AS (
         |  SELECT f.idx,
         |         CAST(sum(CAST(CAST(CAST(s.sig AS DECIMAL(18,6))
         |           - CAST(f.y AS DECIMAL(18,6)) AS DECIMAL(18,6))
         |           * CAST(f.v AS DECIMAL(8,0)) AS DECIMAL(27,6)))
         |           AS DECIMAL(38,6)) AS g
         |  FROM fy f JOIN sg$k s ON f.doc_id = s.doc_id GROUP BY 1),
         |it$k AS (
         |  SELECT w.idx,
         |         CAST(round_even(CAST(w.w AS DOUBLE) - $tqcLr *
         |           (CAST(coalesce(g.g, CAST(0 AS DECIMAL(38,6)))
         |              AS DOUBLE) / nd.nd), 12) AS DECIMAL(18,12)) AS w
         |  FROM it${k - 1} w LEFT JOIN gr$k g ON w.idx = g.idx, nd)""".stripMargin
    val iters = (1 to tqcIters).map(it).mkString(",\n")
    s"""WITH words AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
       |h AS (
       |  SELECT doc_id, $hex4 % $tqcD AS idx,
       |         CASE WHEN $sign % 2 = 0 THEN 1 ELSE -1 END AS sign
       |  FROM words WHERE w <> ''),
       |feat AS (
       |  SELECT doc_id, idx, CAST(sum(sign) AS BIGINT) AS v
       |  FROM h GROUP BY 1, 2
       |  UNION ALL SELECT doc_id, -1 AS idx, 1 AS v FROM documents),
       |lab AS (
       |  SELECT doc_id,
       |         CASE WHEN n_words >= 5 AND n_words <= 10000
       |           AND CAST(sumlen AS DOUBLE) / CAST(n_words AS DOUBLE) >= 3.0
       |           AND CAST(sumlen AS DOUBLE) / CAST(n_words AS DOUBLE) <= 10.0
       |           AND CAST(n_sym AS DOUBLE) / CAST(n_words AS DOUBLE) <= 0.1
       |           AND CAST(n_alpha AS DOUBLE) / CAST(n_words AS DOUBLE) >= 0.8
       |           AND n_stop >= 2 THEN 1 ELSE 0 END AS y
       |  FROM (
       |    SELECT doc_id,
       |           len(string_split(text, ' ')) AS n_words,
       |           list_sum(list_transform(string_split(text, ' '),
       |                                   w -> length(w))) AS sumlen,
       |           len(list_filter(string_split(text, ' '),
       |                 w -> regexp_matches(w, '[a-z]'))) AS n_alpha,
       |           len(list_filter(string_split(text, ' '),
       |                 w -> regexp_matches(w, '^[#@$$%^&*]+$$'))) AS n_sym,
       |           len(list_filter(string_split(text, ' '),
       |                 w -> w IN ('the', 'a', 'of', 'and', 'or'))) AS n_stop
       |    FROM documents)),
       |fy AS (
       |  SELECT feat.doc_id, feat.idx, feat.v, CAST(lab.y AS BIGINT) AS y
       |  FROM feat JOIN lab ON feat.doc_id = lab.doc_id),
       |nd AS (SELECT CAST(count(*) AS DOUBLE) AS nd FROM documents),
       |it0 AS (SELECT unnest(range(-1, $tqcD)) AS idx,
       |               CAST(0 AS DECIMAL(18,12)) AS w),
       |$iters,
       |fin AS (
       |  SELECT f.doc_id, f.y,
       |         CAST(sum(CAST(CAST(w.w AS DECIMAL(18,12))
       |           * CAST(f.v AS DECIMAL(8,0)) AS DECIMAL(27,12)))
       |           AS DECIMAL(38,12)) AS z
       |  FROM fy f JOIN it$tqcIters w ON f.idx = w.idx GROUP BY 1, 2)
       |SELECT doc_id, round_even(CAST(z AS DOUBLE), 6) AS score,
       |       CAST(z AS DOUBLE) > 0 AS pred, y AS label
       |FROM fin ORDER BY doc_id""".stripMargin
  }

  /** Zipf-law fit [N] — the corpus-health diagnostic: OLS slope of
    * ln(freq) on ln(rank) over the top-500 terms (natural text sits
    * near −1; a pile-up of near-duplicate boilerplate shows up as a
    * flattened head). Ranks come from a window over the BOUNDED vocab
    * domain; each ln pins at 6dp, each OLS product re-pins at 12dp and
    * sums as decimal(28,12) — order-invariant; the slope/intercept are
    * two IEEE divisions of exact decimal aggregates, pinned at 8dp
    * (the decimal-past-2⁵³ cast lesson). */
  private def zipfFit(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val freq = Tables.documents(s, d)
      .select(explode(split(col("text"), " ")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("f"))
    val ranked = freq
      .withColumn("rank",
        row_number().over(Window.orderBy(col("f").desc, col("w"))))
      .filter(col("rank") <= 500)
      .select(bround(log(col("rank").cast("double")), 6).as("x"),
        bround(log(col("f").cast("double")), 6).as("y"))
    def dec12(c: org.apache.spark.sql.Column) =
      bround(c, 12).cast("decimal(28,12)")
    val a = ranked.agg(count(lit(1)).as("n"),
      sum(dec12(col("x"))).as("sx"), sum(dec12(col("y"))).as("sy"),
      sum(dec12(col("x") * col("x"))).as("sxx"),
      sum(dec12(col("x") * col("y"))).as("sxy"))
    a.select(col("n"),
      bround((dd(col("n")) * dd(col("sxy")) - dd(col("sx")) * dd(col("sy"))) /
        (dd(col("n")) * dd(col("sxx")) - dd(col("sx")) * dd(col("sx"))), 8)
        .as("zipf_slope"),
      bround((dd(col("sy")) - ((dd(col("n")) * dd(col("sxy")) -
        dd(col("sx")) * dd(col("sy"))) /
        (dd(col("n")) * dd(col("sxx")) - dd(col("sx")) * dd(col("sx")))) *
        dd(col("sx"))) / dd(col("n")), 8).as("intercept"))
  }

  private def dd(c: org.apache.spark.sql.Column) = c.cast("double")

  /** Corpus term frequency: explode → hash-agg → top-20. The 100 TB shape:
    * map-side partial counts, one shuffle on the token. */
  private def termFreq(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(explode(split(col("text"), " ")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("w"))
      .limit(20)

  /** Heuristic language ID: vowel-ratio bands (n-gram-statistic stand-in;
    * the synthetic corpus shares one vocabulary, so the heuristic — not
    * its accuracy against `lang` — is what's oracle-checked). */
  private def langId(s: SparkSession, d: String): DataFrame = {
    val letters = length(regexp_replace(col("text"), "[^a-z]", ""))
    val vowels = length(regexp_replace(col("text"), "[^aeiou]", ""))
    val ratio = vowels.cast("double") / letters.cast("double")
    Tables.documents(s, d).select(
      col("doc_id"), col("lang"), ratio.as("vowel_ratio"),
      when(ratio > 0.42, "vowel-heavy")
        .when(ratio > 0.36, "balanced")
        .otherwise("consonant-heavy").as("pred_class"))
      .orderBy("doc_id")
  }

  /** Gopher-style repetition signals (Rae et al. 2021, "Scaling Language
    * Models: ... Gopher", §A1.1 repetition filters — public reference):
    * duplicate-word fraction, most-common-word dominance, most-common-
    * bigram dominance, mean word length, and the resulting keep/drop
    * flag.
    *
    * Shape: explode → per-(doc, token) count → per-doc rollup, for words
    * and bigrams, joined on doc_id. Two shuffles keyed on
    * (doc_id, token) with full map-side partial aggregation — the
    * distributed O(n log n) shape. (A zero-shuffle HOF formulation
    * computing the modal count in-array is O(words × distinct) per doc
    * and measured 6× slower at sf0.1: per-row quadratic beats shuffle
    * avoidance only for very short docs.) All per-doc stats fall out of
    * ONE aggregation pass per token type: n = sum(c), distinct =
    * count(*), modal = max(c), chars = sum(c · len). */
  private def repetition(s: SparkSession, d: String): DataFrame = {
    val base = Tables.documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
    val wstats = base.select(col("doc_id"), explode(col("ws")).as("w"))
      .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id")).agg(
        sum(col("c")).as("nw"), count(lit(1)).as("nd"), max(col("c")).as("topw"),
        sum(col("c") * length(col("w"))).as("chars"))
    val gstats = base.select(col("doc_id"),
        explode(when(size(col("ws")) >= 2,
          transform(sequence(lit(1), size(col("ws")) - 1),
            i => concat_ws(" ", element_at(col("ws"), i), element_at(col("ws"), i + 1))))
          .otherwise(array())).as("g"))
      .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id")).agg(sum(col("c")).as("ng"), max(col("c")).as("topg"))
    val topWordFrac = col("topw") / col("nw")
    val topGramFrac = coalesce(col("topg") / col("ng"), lit(0.0))
    val meanLen = col("chars") / col("nw")
    wstats.join(gstats, Seq("doc_id"), "left")
      .select(col("doc_id"),
        col("nw").cast("int").as("n_words"),
        (lit(1.0) - col("nd") / col("nw")).as("dup_word_frac"),
        topWordFrac.as("top_word_frac"),
        topGramFrac.as("top_bigram_frac"),
        meanLen.as("mean_word_len"),
        // Gopher-ish keep rule: modal word <= 0.2 of tokens, modal bigram
        // <= 0.18, mean word length in [3, 10]
        (topWordFrac <= 0.2 && topGramFrac <= 0.18 &&
          meanLen >= 3.0 && meanLen <= 10.0).as("keep"))
      .orderBy("doc_id")
  }

  /** Quality score: length saturation + stopword ratio + lexical
    * diversity, weighted. */
  private def quality(s: SparkSession, d: String): DataFrame = {
    val words = split(col("text"), " ")
    val nTokens = size(words).cast("double")
    val nStop = size(filter(words, w => w.isInCollection(stopwords))).cast("double")
    val diversity = size(array_distinct(words)).cast("double") / nTokens
    val lenScore = least(col("n_chars").cast("double") / 500.0, lit(1.0))
    Tables.documents(s, d).select(
      col("doc_id"),
      (lenScore * 0.3 + (nStop / nTokens) * 0.4 + diversity * 0.3).as("quality"))
      .orderBy("doc_id")
  }

  /** Skip-gram co-occurrence counts (window ±2): the word2vec-style
    * corpus statistic. Pair generation is map-side HOF work — each doc
    * emits (w_i, w_{i+1}) and (w_i, w_{i+2}) structs from its own word
    * array (linear in doc length), so the only shuffle is the final
    * count keyed on the pair. The positional-self-join formulation (the
    * oracle mirrors it — provably the same pair multiset) would shuffle
    * the exploded corpus twice and join; at 100 TB the HOF shape wins
    * outright because window co-occurrence is local to the document. */
  private def cooccurrence(s: SparkSession, d: String): DataFrame = {
    val ws = col("__ws")
    val n = size(ws)
    def shifted(off: Int) = when(n >= off + 1,
      transform(sequence(lit(1), n - off),
        i => struct(element_at(ws, i).as("w1"), element_at(ws, i + off).as("w2"))))
      .otherwise(array())
    Tables.documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("__ws"))
      .select(explode(concat(shifted(1), shifted(2))).as("p"))
      .groupBy(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("w1"), col("w2"))
      .limit(50)
  }

  /** TF-IDF term weighting: per-(doc, term) frequency × ln(N/df) —
    * two hash-aggs and a broadcast of the tiny df table; top terms. */
  private def tfidf(s: SparkSession, d: String): DataFrame = {
    val words = Tables.documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
    val n = Tables.documents(s, d).agg(count(lit(1)).as("n_docs"))
    val tf = words.groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("tf"))
    val df = words.groupBy(col("w"))
      .agg(countDistinct(col("doc_id")).as("df"))
    tf.join(broadcast(df), Seq("w"))
      .crossJoin(broadcast(n))
      .select(col("doc_id"), col("w"),
        bround(col("tf") * log(col("n_docs") / col("df")), 6).as("tfidf"))
      .orderBy(col("tfidf").desc, col("doc_id"), col("w"))
      .limit(100)
  }

  /** Content fingerprint: md5 over whitespace-normalized lowercased text
    * (rolling-hash winnowing degenerates to a content hash at doc scope). */
  private def fingerprint(s: SparkSession, d: String): DataFrame = {
    val normalized = regexp_replace(lower(col("text")), "\\s+", " ")
    Tables.documents(s, d).select(
      col("doc_id"), md5(normalized).as("fingerprint"),
      length(normalized).as("n_norm_chars"))
      .orderBy("doc_id")
  }

  /** Winnowing-style rolling-hash fingerprint: hash every 8-char shingle
    * (rolling window, stride 1) and keep the minimum — deterministic
    * content signature robust to local edits. Shingle hash is md5 (hex
    * string; lexicographic min), which both engines implement identically
    * — so unlike an xxhash64 formulation this IS oracle-checkable.
    * Shape: explode offsets → codegen'd md5 → hash-agg min (the HOF
    * `array_min(transform(...))` formulation is interpreter-bound). */
  private def rollingFingerprint(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), col("text"), length(col("text")).as("n_chars_seen"),
        explode(sequence(lit(0), greatest(length(col("text")) - 8, lit(0)))).as("i"))
      .select(col("doc_id"), col("n_chars_seen"),
        md5(expr("substring(text, i + 1, 8)")).as("h"))
      .groupBy(col("doc_id"), col("n_chars_seen"))
      .agg(min(col("h")).as("rolling_fp"))
      .select(col("doc_id"), col("rolling_fp"), col("n_chars_seen"))
      .orderBy("doc_id")

  /** Per-doc mean unigram log-probability under the corpus unigram
    * distribution — the cheap perplexity proxy quality filters rank by
    * (low mean log-prob = improbable token mix). Two scans: token
    * frequencies (hash agg), then a broadcast token→logprob join folded
    * per doc. Cross-engine float discipline: each `ln` term is rounded
    * to 6 dp BEFORE summing (identical addends in both engines despite
    * libm differences) and the SUM runs over exact decimal(12,6) — a
    * double sum is partition-order-sensitive, and r13's sf0.1 sweep
    * caught a doc whose mean sat exactly on a 4 dp rounding boundary,
    * flipping with summation order; the decimal sum is order-invariant,
    * so the one IEEE divide + 4 dp round is deterministic. */
  private def logprob(s: SparkSession, d: String): DataFrame = {
    val toks = Tables.documents(s, d).select(col("doc_id"),
      explode(split(col("text"), " ")).as("w"))
    val freq = toks.groupBy(col("w")).agg(count(lit(1)).as("cnt"))
    val total = toks.agg(count(lit(1)).cast("double").as("tot"))
    toks.join(broadcast(freq), Seq("w"))
      .crossJoin(broadcast(total))
      .withColumn("lp", bround(log(col("cnt").cast("double") / col("tot")), 6))
      .groupBy(col("doc_id"))
      .agg(bround(sum(col("lp").cast("decimal(12,6)")).cast("double") / count(lit(1)), 4).as("mean_logprob"))
      .orderBy("doc_id")
  }

  /** PII-style pattern redaction — the scrubbing pass every training
    * corpus runs before anything else: replace sensitive patterns (here
    * digit runs, standing in for phone/account numbers; the pattern set
    * is pluggable) with a typed placeholder and count the redactions per
    * record so downstream filters can drop over-redacted docs. Runs over
    * `events.props` (the only digit-bearing text column in the
    * testdata). Pure projection: stateless, no shuffle, codegen'd
    * regexp — scales with the scan. Redaction count comes from
    * `regexp_count` (not a second replace) so the two expressions can't
    * drift. */
  private def redact(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(col("event_id"),
        regexp_replace(col("props"), "[0-9]+", "<NUM>").as("redacted"),
        regexp_count(col("props"), lit("[0-9]+")).cast("int").as("n_redactions"))
      .orderBy("event_id")

  /** TYPED multi-category PII redaction [N] (r14) — the production form
    * of [[redact]]'s single-pattern stand-in: a training-corpus scrub
    * classifies each hit (email / phone / IPv4), replaces it with a
    * TYPED placeholder (so downstream filters can treat an
    * over-redacted doc differently from a digit-heavy one), and counts
    * per category on the ORIGINAL text so the counts cannot drift from
    * the replacement pass. The testdata documents carry no PII, so the
    * scrubbed text derives deterministically from the customer table
    * (name → synthetic email, key-derived phone and IPv4 with fixed
    * digit widths), with email/IP present only on key-dependent
    * subsets so the counts actually vary. Pure projection — stateless
    * codegen'd regexp, scales with the scan; the patterns are written
    * in the Java∩RE2 common dialect (character classes + bounded
    * repeats, no alternation/backrefs) so Spark and DuckDB match
    * identically, which the hash gate then certifies per row. */
  private val EmailRe = """[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"""
  private val PhoneRe = """\b\d{2}-\d{3}-\d{3}-\d{4}\b"""
  private val Ipv4Re = """\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"""

  private def piiTyped(s: SparkSession, d: String): DataFrame = {
    val k = col("c_custkey")
    val emailPart = when(k % 3 === 0,
      concat(lit(" <"), lower(regexp_replace(col("c_name"), "#", "")),
        lit("@example.com>"))).otherwise(lit(""))
    val ipPart = when(k % 4 === 0,
      concat(lit(" ip 10."), (k % 256).cast("string"),
        lit(".0.1"))).otherwise(lit(""))
    val phonePart = concat(lit(" phone "),
      (k % 90 + 10).cast("string"), lit("-"),
      (k % 900 + 100).cast("string"), lit("-"),
      (k * 7 % 900 + 100).cast("string"), lit("-"),
      (k * 13 % 9000 + 1000).cast("string"))
    Tables.customer(s, d)
      .select(col("c_custkey"),
        concat(col("c_name"), emailPart, phonePart,
          ipPart, lit(" "), col("c_mktsegment")).as("text"))
      .select(col("c_custkey"),
        regexp_count(col("text"), lit(EmailRe)).cast("long").as("n_email"),
        regexp_count(col("text"), lit(PhoneRe)).cast("long").as("n_phone"),
        regexp_count(col("text"), lit(Ipv4Re)).cast("long").as("n_ip"),
        md5(regexp_replace(regexp_replace(regexp_replace(col("text"),
          EmailRe, "<EMAIL>"), Ipv4Re, "<IP>"), PhoneRe, "<PHONE>"))
          .as("red_md5"))
      .orderBy("c_custkey")
  }

  private val piiTypedOracle =
    s"""WITH t AS (
       |  SELECT c_custkey,
       |         c_name ||
       |         CASE WHEN c_custkey % 3 = 0
       |              THEN ' <' || lower(replace(c_name, '#', '')) ||
       |                   '@example.com>' ELSE '' END ||
       |         ' phone ' ||
       |         CAST(c_custkey % 90 + 10 AS VARCHAR) || '-' ||
       |         CAST(c_custkey % 900 + 100 AS VARCHAR) || '-' ||
       |         CAST(c_custkey * 7 % 900 + 100 AS VARCHAR) || '-' ||
       |         CAST(c_custkey * 13 % 9000 + 1000 AS VARCHAR) ||
       |         CASE WHEN c_custkey % 4 = 0
       |              THEN ' ip 10.' || CAST(c_custkey % 256 AS VARCHAR) ||
       |                   '.0.1' ELSE '' END ||
       |         ' ' || c_mktsegment AS text
       |  FROM customer)
       |SELECT c_custkey,
       |       CAST(length(regexp_extract_all(text, '$EmailRe')) AS BIGINT)
       |         AS n_email,
       |       CAST(length(regexp_extract_all(text, '$PhoneRe')) AS BIGINT)
       |         AS n_phone,
       |       CAST(length(regexp_extract_all(text, '$Ipv4Re')) AS BIGINT)
       |         AS n_ip,
       |       md5(regexp_replace(regexp_replace(regexp_replace(text,
       |         '$EmailRe', '<EMAIL>', 'g'), '$Ipv4Re', '<IP>', 'g'),
       |         '$PhoneRe', '<PHONE>', 'g')) AS red_md5
       |FROM t ORDER BY c_custkey""".stripMargin

  /** Sliding-window chunking — splitting long documents into
    * overlapping fixed-token windows (stride 24, window 32, so 8 tokens
    * of context overlap) is how a pretraining pipeline feeds documents
    * longer than the model context. Zero shuffle: one map-side
    * explode whose amplification is bounded by window/stride ≈ 1.33×,
    * so it scales exactly like the scan. Chunks are emitted as md5 +
    * token count (the pipeline's manifest form), not raw text. */
  private def chunk(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .select(col("doc_id"), explode(expr(
        """transform(sequence(0, CAST(floor((size(ws) - 1) / 24) AS INT)),
          |  s -> struct(s AS chunk_id, slice(ws, s * 24 + 1, 32) AS c))"""
          .stripMargin)).as("e"))
      .select(col("doc_id"), col("e.chunk_id").as("chunk_id"),
        md5(array_join(col("e.c"), " ")).as("chunk_md5"),
        size(col("e.c")).as("n_tokens"))
      .orderBy("doc_id", "chunk_id")

  /** Temperature-based language rebalancing (the mT5/XLM-R mixture
    * trick, α = 0.5): sampling rate per language ∝ count^(α−1),
    * normalized so the LARGEST language keeps rate 0.5 — low-resource
    * languages keep proportionally more. Selection is a DETERMINISTIC
    * per-document coin: the md5-prefix of the text compared against the
    * rate as an 8-hex-digit threshold, so the sample is reproducible
    * across runs/engines and needs no RNG state. Rates derive from
    * sqrt/division only (both correctly rounded IEEE — no float SUM
    * whose order could differ cross-engine). Per-lang dim broadcasts;
    * the docs scan never shuffles. */
  private def mixTemperature(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val cnt = docs.groupBy(col("lang")).agg(count(lit(1)).as("c"))
    val rates = cnt
      .crossJoin(broadcast(cnt.agg(max(col("c")).as("cmax"))))
      .withColumn("rate",
        least(lit(1.0), lit(0.5) * sqrt(col("cmax")) / sqrt(col("c"))))
      .withColumn("thresh",
        lpad(lower(hex(floor(col("rate") * lit(4294967296.0)).cast("long"))),
          8, "0"))
    docs.join(broadcast(rates), Seq("lang"))
      .groupBy(col("lang"))
      .agg(min(col("c")).as("orig_docs"),
        count(when(col("rate") >= 1.0 ||
          substring(md5(col("text")), 1, 8) < col("thresh"), 1)).as("kept_docs"),
        min(col("rate")).as("rate"))
      .orderBy("lang")
  }

  /** DoReMi-style domain reweighting [N] (Xie et al. 2023) — the
    * data-MIXING optimizer next to the temperature (`text_mix_temperature`)
    * and importance-resampling (`text_dsir_weights`) stages: domains
    * (`source`) get mixture weights by exponentiated-gradient updates on
    * their EXCESS LOSS, here the domain's mean token surprisal under the
    * corpus unigram LM minus the corpus-wide mean (DoReMi's
    * proxy-minus-reference gap collapsed to the engine's pinned LM; the
    * EG machinery — multiplicative update, per-round normalization,
    * round-averaging, uniform smoothing — is the published algorithm).
    *
    * Cross-engine exactness: per-token ln pinned 6dp per WORD TYPE
    * (the `text_logprob` discipline) then scaled to exact BIGINT, so
    * domain/corpus sums are integer-exact; each EG round's unnormalized
    * mass is re-scaled to BIGINT (`bround(α·e6, 0)`) so normalizers are
    * exact integer sums and every α is ONE double division — no
    * float-sum order anywhere. Scale: one explode + two hash aggs over
    * the corpus; the EG rounds run on the D-row domain frame (D =
    * distinct sources), broadcast throughout. */
  private def mixDoremi(s: SparkSession, d: String): DataFrame = {
    import graft.Ckpt.CutOps
    val docs = Tables.documents(s, d)
    val toks = docs.select(col("source"),
      explode(split(col("text"), " ")).as("w"))
    val freq = toks.groupBy(col("w")).agg(count(lit(1)).as("cnt"))
    val total = toks.agg(count(lit(1)).cast("double").as("tot"))
    val lp6 = toks.join(broadcast(freq), Seq("w"))
      .crossJoin(broadcast(total))
      .withColumn("lp6", bround(bround(
        log(col("cnt").cast("double") / col("tot")), 6) * 1e6, 0).cast("long"))
    val dom = lp6.groupBy(col("source"))
      .agg(sum(col("lp6")).as("s6"), count(lit(1)).as("n_tokens"))
      .join(docs.groupBy(col("source")).agg(count(lit(1)).as("n_docs")),
        Seq("source"))
    val corpus = dom.agg(sum(col("s6")).as("cs6"),
      sum(col("n_tokens")).as("ctok"),
      count(lit(1)).cast("double").as("nd"))
    val base = dom.crossJoin(broadcast(corpus))
      .withColumn("nll",
        (-col("s6")).cast("double") / (lit(1e6) * col("n_tokens").cast("double")))
      .withColumn("cnll",
        (-col("cs6")).cast("double") / (lit(1e6) * col("ctok").cast("double")))
      .withColumn("excess", col("nll") - col("cnll"))
      .withColumn("e6", bround(bround(
        exp(lit(0.5) * col("excess")), 6) * 1e6, 0).cast("long"))
      .cut()
    def normalize(df: DataFrame, massCol: Column, a: String): DataFrame =
      df.withColumn("v", massCol)
        .crossJoin(broadcast(df.withColumn("v", massCol)
          .agg(sum(col("v")).as("vs"))))
        .withColumn(a, col("v").cast("double") / col("vs").cast("double"))
        .drop("v", "vs")
    val r1 = normalize(base, col("e6"), "a1").cut()
    val r2 = normalize(r1,
      bround(col("a1") * col("e6").cast("double"), 0).cast("long"), "a2").cut()
    val r3 = normalize(r2,
      bround(col("a2") * col("e6").cast("double"), 0).cast("long"), "a3").cut()
    r3.select(col("source"), col("n_docs"), col("n_tokens"),
        bround(col("nll"), 6).as("nll"),
        bround(col("excess"), 6).as("excess_loss"),
        bround(col("a1"), 9).as("w_round1"),
        bround(col("a2"), 9).as("w_round2"),
        bround(col("a3"), 9).as("w_round3"),
        bround(lit(0.75) * ((col("a1") + col("a2") + col("a3")) / lit(3.0))
          + lit(0.25) / col("nd"), 9).as("weight"))
      .orderBy("source")
  }

  /** Corpus-global line-level dedup (the CCNet/RefinedWeb pass that
    * strips boilerplate repeated ACROSS documents): the corpus splits
    * into 10-word lines, every distinct line keeps only its first
    * occurrence — "first" = min (doc_id, line_idx), resolved with ONE
    * `min(struct)` hash aggregate on the line text (map-side partials;
    * no window sort over the exploded corpus, which at 100 TB is the
    * difference between one shuffle of distinct lines and a sort of
    * every line instance) — then surviving lines reassemble per doc in
    * order. Output: per-doc kept-line count + deduped text. */
  private def lineDedup(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .select(col("doc_id"), posexplode(expr(
        """transform(sequence(0, CAST(ceil(size(ws) / 10.0) AS INT) - 1),
          |  i -> array_join(slice(ws, i * 10 + 1, 10), ' '))""".stripMargin))
        .as(Seq("line_idx", "line")))
      .groupBy(col("line"))
      .agg(min(struct(col("doc_id"), col("line_idx"))).as("w"))
      .select(col("w.doc_id").as("doc_id"),
        col("w.line_idx").as("line_idx"), col("line"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        array_join(transform(array_sort(collect_list(
          struct(col("line_idx"), col("line")))), e => e("line")), " ")
          .as("text_dedup"))
      .orderBy("doc_id")

  /** Within-document token entropy [N] — the gibberish/boilerplate
    * screen: H(doc) = −Σ p_w·log2(p_w) over the doc's own token
    * distribution (low H = repetitive template text, high H ≈
    * log2(n_tokens) = no reuse). Two hash aggs (per-(doc,word) then
    * per-doc counts — both map-side combinable) and one co-partitioned
    * join on doc_id. Float discipline: each term takes ONE log2 and
    * pins at 6dp (the transcendental 1-ULP exposure, same acceptance
    * as `text_logprob`), but the SUM is over decimal(18,6) — exact and
    * order-invariant — with a single decimal→double conversion per
    * doc, so partitioning can never move a bit. */
  private def entropy(s: SparkSession, d: String): DataFrame = {
    val toks = Tables.documents(s, d).select(col("doc_id"),
      explode(split(col("text"), " ")).as("w"))
    val wc = toks.groupBy(col("doc_id"), col("w"))
      .agg(count(lit(1)).as("c"))
    val tot = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("t"))
    val p = col("c").cast("double") / col("t").cast("double")
    wc.join(tot, "doc_id")
      .withColumn("term",
        bround(-p * log2(p), 6).cast("decimal(18,6)"))
      .groupBy(col("doc_id"))
      .agg(sum(col("term")).cast("double").as("entropy"),
        max(col("t")).as("n_tokens"))
      .orderBy("doc_id")
  }

  /** Inverted index build + serve [N] — the text-retrieval layout: one
    * hash agg turns (doc, token) pairs into token→sorted-posting-list
    * rows, persisted as parquet (at scale: bucketed by token so a term
    * lookup is one pruned file read — the layout is the index). The
    * serve path answers a conjunctive (AND) query over the two
    * highest-df terms — both chosen deterministically (df desc, token)
    * so the oracle re-derives the same query — by intersecting ONLY
    * those two posting arrays: the per-term cost is |postings|, never
    * a corpus scan. Hash equality against DuckDB's direct
    * contains-both scan proves index build and serve lossless. */
  private def invertedIndex(s: SparkSession, d: String): DataFrame = {
    val dir = graft.Scratch.dir("inverted_index")
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .distinct()
    toks.groupBy(col("w"))
      .agg(sort_array(collect_set(col("doc_id"))).as("postings"),
        count(lit(1)).as("df"))
      .write.mode("overwrite").parquet(dir)
    val idx = ParquetFrame(s, Seq(dir))
    val top2 = idx.orderBy(col("df").desc, col("w")).limit(2)
      .select(col("postings"))
    top2.agg(collect_list(col("postings")).as("ps"))
      .select(explode(expr("array_intersect(ps[0], ps[1])")).as("doc_id"))
      .orderBy("doc_id")
  }

  /** DSIR-style importance weighting [N] — domain selection via hashed
    * n-gram features (Xie et al. 2023, "Data Selection for Language
    * Models via Importance Resampling"; see PAPERS.md): every doc's
    * char-bigrams hash into 64 buckets, bucket distributions are
    * estimated for the TARGET domain (lang = 'en', standing in for the
    * curated seed corpus) and the RAW corpus with add-one smoothing,
    * and each doc scores the log importance ratio
    * w = Σ_b c_b · (ln p_target(b) − ln p_raw(b)) — the quantity DSIR
    * resamples by (∝ exp w). High w = looks like the target domain.
    *
    * Float discipline: each ln is pinned at 6 dp BEFORE use (the
    * text_logprob transcendental acceptance), the per-bucket DIFFERENCE
    * is exact decimal(12,6) subtraction, and the per-doc fold is an
    * exact decimal sum with one final double conversion.
    *
    * Scale shape: one explode → hash agg into (doc, bucket) cells
    * (map-side combinable), a 64-row bucket dim + 1-row total
    * broadcast, one per-doc agg. Nothing is quadratic; the raw text is
    * scanned once. */
  private def dsirWeights(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .filter(length(col("text")) >= 2)
    val bg = docs.select(col("doc_id"), col("lang"),
      explode(expr(
        """transform(sequence(1, length(text) - 1), i ->
          |  (ascii(substring(text, i, 1)) * 31 +
          |   ascii(substring(text, i + 1, 1))) % 64)""".stripMargin))
        .as("b"))
    val cnt = bg.groupBy(col("doc_id"), col("lang"), col("b"))
      .agg(count(lit(1)).as("c"))
    val bk = bg.groupBy(col("b"))
      .agg(count(lit(1)).as("r_b"),
        sum(when(col("lang") === "en", 1L).otherwise(0L)).as("t_b"))
    val tot = bg.agg(count(lit(1)).as("rr"),
      sum(when(col("lang") === "en", 1L).otherwise(0L)).as("tt"))
    val lp = bk.crossJoin(broadcast(tot))
      .select(col("b"),
        bround(log((col("t_b") + lit(1.0)) / (col("tt") + lit(64.0))), 6)
          .cast("decimal(12,6)").as("lpt"),
        bround(log((col("r_b") + lit(1.0)) / (col("rr") + lit(64.0))), 6)
          .cast("decimal(12,6)").as("lpr"))
    cnt.join(broadcast(lp), "b")
      .groupBy(col("doc_id"), col("lang"))
      .agg(sum(col("c")).as("n_bigrams"),
        sum(col("c").cast("decimal(18,0)") * (col("lpt") - col("lpr")))
          .cast("double").as("weight"))
      .orderBy("doc_id")
  }

  private val bpeRounds = 5

  /** BPE-style merge training [N] — token-vocabulary induction on the
    * corpus (Sennrich et al. 2016, the subword-tokenizer trainer; see
    * PAPERS.md), distributed: the word VOCABULARY (not the corpus)
    * carries a space-separated symbol sequence per word; each round
    * counts all adjacent symbol pairs weighted by word frequency, picks
    * the most frequent pair (ties to the lexicographically smallest),
    * and merges it everywhere. Output: the learned merge table
    * (round, a, b, pair count) — all integer tallies, nothing to pin.
    *
    * Declared semantics the oracle mirrors bit-for-bit: pair counts
    * include overlapping occurrences; the merge applies plain
    * `replace` on the space-padded sequence TWICE (non-overlapping
    * left-to-right both engines — the second pass catches occurrences
    * whose boundary space the first pass consumed).
    *
    * Scale shape: every round is one vocab-bounded explode + hash agg
    * (map-side combinable), a 1-row argmax, and a broadcast-1-row merge
    * projection; the corpus is scanned exactly once to build the
    * vocabulary. Sequences re-checkpoint per round (iterative-lineage
    * discipline of [[graft.ext.Graph]]). */
  /** The BPE fixpoint state: (merge table, final word→symbol-sequence
    * vocabulary) — shared by [[bpeTrain]] and [[bpeApply]]. */
  private def bpeState(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val words = Tables.documents(s, d)
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(col("w").rlike("^[a-z]+$"))
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
    var vocab = words.select(col("w"),
      expr("array_join(transform(sequence(1, length(w)), " +
        "i -> substring(w, i, 1)), ' ')").as("seq"),
      col("cnt")).localCheckpoint()
    var merges: DataFrame = null
    for (r <- 1 to bpeRounds) {
      val pairs = vocab
        .select(col("cnt"), split(col("seq"), " ").as("sy"))
        .filter(size(col("sy")) >= 2)
        .select(col("cnt"), explode(expr(
          """transform(sequence(0, size(sy) - 2),
            |  i -> struct(element_at(sy, i + 1) AS a,
            |              element_at(sy, i + 2) AS b))""".stripMargin))
          .as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("cnt")).as("pc"))
      val best = pairs
        .agg(min(struct((-col("pc")).as("np"), col("a"), col("b"))).as("m"))
        .select(col("m.a").as("a"), col("m.b").as("b"),
          (-col("m.np")).as("pc"))
        .localCheckpoint()
      merges = Option(merges)
        .map(_.unionAll(best.withColumn("round", lit(r))))
        .getOrElse(best.withColumn("round", lit(r)))
      val pad = concat(lit(" "), col("seq"), lit(" "))
      val from = concat(lit(" "), col("a"), lit(" "), col("b"), lit(" "))
      val to = concat(lit(" "), col("a"), col("b"), lit(" "))
      vocab = vocab.crossJoin(broadcast(best))
        .select(col("w"),
          trim(replace(replace(pad, from, to), from, to)).as("seq"),
          col("cnt"))
        .localCheckpoint()
    }
    (merges, vocab)
  }

  private def bpeTrain(s: SparkSession, d: String): DataFrame = {
    val (merges, _) = bpeState(s, d)
    merges.select(col("round"), col("a"), col("b"), col("pc"))
      .orderBy("round")
  }

  /** BPE tokenization serve path [N] — the learned merge table applied
    * back to the corpus: every alphabetic word joins the trained
    * word→symbol-sequence vocabulary (the training fixpoint IS the
    * lookup table — no re-derivation), and each document reports its
    * alpha-word and subword-token counts, the quantity every
    * token-budgeted pipeline stage (packing, mixing, pricing) consumes.
    * One explode + one equi-join against the vocab-bounded mapping
    * (broadcast at dimension scale) + one per-doc hash agg. */
  private def bpeApply(s: SparkSession, d: String): DataFrame = {
    val (_, vocab) = bpeState(s, d)
    val mapping = vocab.select(col("w"),
      size(split(col("seq"), " ")).as("n_sub"))
    Tables.documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .join(mapping, "w")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"), sum(col("n_sub")).as("n_tokens"))
      .orderBy("doc_id")
  }

  /** Cross-document n-gram duplication profile [N] — the substring-level
    * dup audit (Lee et al. 2022, "Deduplicating Training Data Makes
    * Language Models Better", the ExactSubstr statistic at 8-gram
    * granularity; see PAPERS.md): each doc's distinct word-8-gram
    * fingerprints are counted across the corpus, and every doc reports
    * how many of its 8-grams also appear in OTHER docs — the signal the
    * suffix-array pass acts on, here as the hash-join formulation that
    * scales like the minhash shingle pipeline (explode → two hash aggs
    * → one equi-join on the gram hash; everything map-side combinable,
    * nothing quadratic). */
  private def crossdocNgrams(s: SparkSession, d: String): DataFrame = {
    val grams = Tables.documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .filter(size(col("ws")) >= 8)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(ws) - 7), " +
          "i -> md5(array_join(slice(ws, i, 8), ' ')))")).as("g"))
      .distinct()
    val df = grams.groupBy(col("g")).agg(count(lit(1)).as("df"))
    grams.join(df, "g")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("df") >= 2, 1L).otherwise(0L)).as("n_shared"))
      .withColumn("share_ratio",
        col("n_shared").cast("double") / col("n_grams").cast("double"))
      .orderBy("doc_id")
  }

  /** Skip-gram pairs WITH deterministic negative sampling [N] — the
    * word2vec/SGNS training-data generator (Mikolov et al. 2013), one
    * level up from [[cooccurrence]]'s raw window counts: symmetric
    * ±2-window (center, context) positives, plus K = 2 negatives per
    * pair TYPE drawn from the vocabulary by md5 coin over the
    * lexicographic word ranking — the draw is a pure function of
    * (center, context, k), so the training set is bit-reproducible
    * across retries, partitionings, and engines (the property that
    * makes embedding runs comparable at 100 TB). Output: (center,
    * sample, label, n) — label 1 rows carry the window count, label 0
    * rows the same count per negative slot (SGNS pairs each positive
    * occurrence with K negatives).
    *
    * Scale shape: one linear window explode + hash agg for positives
    * (vocabulary-scale output); the vocabulary ranking is a bounded
    * window over distinct words; the negative join probes the
    * broadcast-sized rank table. No corpus-quadratic stage. */
  private def skipgramNegSample(s: SparkSession, d: String): DataFrame = {
    val ws = col("__ws")
    val n = size(ws)
    def shifted(off: Int) = when(n >= off + 1,
      transform(sequence(lit(1), n - off),
        i => struct(element_at(ws, i).as("w1"), element_at(ws, i + off).as("w2"))))
      .otherwise(array())
    val fwd = Tables.documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("__ws"))
      .select(explode(concat(shifted(1), shifted(2))).as("p"))
      .select(col("p.w1").as("a"), col("p.w2").as("b"))
    // symmetric window: every forward pair also counts reversed
    val pos = fwd.unionAll(fwd.select(col("b").as("a"), col("a").as("b")))
      .groupBy(col("a").as("center"), col("b").as("context"))
      .agg(count(lit(1)).as("n"))
    val wRank = org.apache.spark.sql.expressions.Window.orderBy(col("w"))
    val vocab = Tables.documents(s, d)
      .select(explode(split(col("text"), " ")).as("w")).distinct()
      .withColumn("rank", (row_number().over(wRank) - 1).cast("long"))
      .localCheckpoint()
    val vTot = vocab.count()
    val negs = pos.select(col("center"), col("context"), col("n"),
        explode(expr("sequence(0, 1)")).as("k"))
      .withColumn("rank", pmod(
        expr("graft_hex_long(md5(concat(center, '_', context, '_'," +
          " cast(k as string), ':neg')), 1, 8)"),
        lit(vTot)))
      .join(broadcast(vocab), Seq("rank"))
      .groupBy(col("center"), col("w").as("sample"))
      .agg(sum(col("n")).as("n"))
      .select(col("center"), col("sample"), lit(0).as("label"), col("n"))
    pos.select(col("center"), col("context").as("sample"),
        lit(1).as("label"), col("n"))
      .unionAll(negs)
      .orderBy("center", "sample", "label")
  }

  private def skipgramOracle: String = {
    val hex8 = (0 until 8).map { i =>
      val f = 1L << (4 * (7 - i))
      s"(strpos('0123456789abcdef', substr(md5(center || '_' || context" +
        s" || '_' || CAST(k AS VARCHAR) || ':neg'), ${i + 1}, 1)) - 1) * $f"
    }.mkString("(", "\n      + ", ")")
    s"""WITH fwd AS (
       |  SELECT ws[i] AS a, ws[i + 1] AS b
       |  FROM (SELECT string_split(text, ' ') AS ws FROM documents),
       |       LATERAL (SELECT unnest(generate_series(1, len(ws) - 1)) AS i)
       |  UNION ALL
       |  SELECT ws[i] AS a, ws[i + 2] AS b
       |  FROM (SELECT string_split(text, ' ') AS ws FROM documents),
       |       LATERAL (SELECT unnest(generate_series(1, len(ws) - 2)) AS i)),
       |pos AS (
       |  SELECT a AS center, b AS context, count(*) AS n FROM (
       |    SELECT a, b FROM fwd UNION ALL SELECT b, a FROM fwd)
       |  GROUP BY 1, 2),
       |vocab AS (
       |  SELECT w, row_number() OVER (ORDER BY w) - 1 AS rank FROM (
       |    SELECT DISTINCT ws[i] AS w
       |    FROM (SELECT string_split(text, ' ') AS ws FROM documents),
       |         LATERAL (SELECT unnest(generate_series(1, len(ws))) AS i))),
       |vt AS (SELECT count(*) AS v FROM vocab),
       |negs AS (
       |  SELECT center, v.w AS sample, 0 AS label,
       |         CAST(sum(n) AS BIGINT) AS n
       |  FROM (
       |    SELECT center, context, n, k,
       |           $hex8 % vt.v AS rank
       |    FROM pos, (SELECT unnest([0, 1]) AS k), vt) p
       |  JOIN vocab v ON p.rank = v.rank
       |  GROUP BY 1, 2, 3)
       |SELECT center, context AS sample, 1 AS label, CAST(n AS BIGINT) AS n
       |FROM pos
       |UNION ALL
       |SELECT center, sample, label, n FROM negs
       |ORDER BY center, sample, label""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_skipgram_negsample" -> skipgramNegSample,
    "text_crossdoc_ngrams" -> crossdocNgrams,
    "text_bpe_train" -> bpeTrain,
    "text_bpe_apply" -> bpeApply,
    "text_dsir_weights" -> dsirWeights,
    "text_inverted_index" -> invertedIndex,
    "text_entropy" -> entropy,
    "text_line_dedup" -> lineDedup,
    "text_chunk" -> chunk,
    "text_mix_temperature" -> mixTemperature,
    "text_mix_doremi" -> mixDoremi,
    "text_redact" -> redact,
    "text_pii_typed" -> piiTyped,
    "text_logprob" -> logprob,
    "text_tokens" -> tokens,
    "text_datacard" -> datacard,
    "text_rolling_fingerprint" -> rollingFingerprint,
    "text_termfreq" -> termFreq,
    "text_langid" -> langId,
    "text_tfidf" -> tfidf,
    "text_quality" -> quality,
    "text_zipf_fit" -> zipfFit,
    "text_gopher_rules" -> gopherRules,
    "text_quality_classifier" -> qualityClassifier,
    "text_repetition" -> repetition,
    "text_cooccurrence" -> cooccurrence,
    "text_fingerprint" -> fingerprint)

  /** BPE oracle: the merge rounds unrolled as chained MATERIALIZED CTEs
    * (the generated-oracle discipline of the graph family) — pair
    * explode via lateral unnest, argmax via ORDER BY pc DESC, a, b
    * LIMIT 1, and the exact two-pass padded replace. */
  private def bpeChain: String = {
    val base =
      """WITH v0 AS MATERIALIZED (
        |  SELECT w,
        |         array_to_string(list_transform(range(1, length(w) + 1),
        |           i -> substr(w, CAST(i AS INTEGER), 1)), ' ') AS seq,
        |         cnt
        |  FROM (SELECT w, count(*) AS cnt FROM (
        |          SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        |        WHERE regexp_matches(w, '^[a-z]+$') GROUP BY w))""".stripMargin
    val rounds = (1 to bpeRounds).map { r =>
      s"""p$r AS MATERIALIZED (
         |  SELECT sy[CAST(i + 1 AS INTEGER)] AS a,
         |         sy[CAST(i + 2 AS INTEGER)] AS b,
         |         CAST(sum(cnt) AS BIGINT) AS pc
         |  FROM (SELECT string_split(seq, ' ') AS sy, cnt FROM v${r - 1}),
         |       unnest(range(0, len(sy) - 1)) t(i)
         |  GROUP BY 1, 2),
         |b$r AS MATERIALIZED (
         |  SELECT a, b, pc FROM p$r ORDER BY pc DESC, a, b LIMIT 1),
         |v$r AS MATERIALIZED (
         |  SELECT w,
         |         trim(replace(replace(' ' || seq || ' ',
         |           ' ' || a || ' ' || b || ' ', ' ' || a || b || ' '),
         |           ' ' || a || ' ' || b || ' ', ' ' || a || b || ' '))
         |           AS seq,
         |         cnt
         |  FROM v${r - 1} CROSS JOIN b$r)""".stripMargin
    }.mkString(",\n")
    s"$base,\n$rounds"
  }

  private def bpeOracle: String = {
    val out = (1 to bpeRounds).map(r =>
      s"SELECT $r AS round, a, b, pc FROM b$r").mkString("\nUNION ALL ")
    s"$bpeChain\n$out\nORDER BY round"
  }

  private def bpeApplyOracle: String =
    s"""$bpeChain
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
       |       CAST(sum(len(string_split(seq, ' '))) AS BIGINT) AS n_tokens
       |FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
       |      FROM documents) dw
       |JOIN v$bpeRounds USING (w)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  val oracles: Map[String, String] = Map(
    "text_skipgram_negsample" -> skipgramOracle,
    "text_crossdoc_ngrams" ->
      """WITH grams AS MATERIALIZED (
        |  SELECT DISTINCT doc_id,
        |         md5(array_to_string(
        |           ws[CAST(i AS INTEGER):CAST(i + 7 AS INTEGER)], ' ')) AS g
        |  FROM (SELECT doc_id, string_split(text, ' ') AS ws
        |        FROM documents),
        |       unnest(range(1, len(ws) - 6)) t(i)
        |  WHERE len(ws) >= 8),
        |df AS (SELECT g, count(*) AS df FROM grams GROUP BY 1)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
        |       CAST(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_shared,
        |       CAST(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
        |         / CAST(count(*) AS DOUBLE) AS share_ratio
        |FROM grams JOIN df USING (g)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "text_bpe_train" -> bpeOracle,
    "text_bpe_apply" -> bpeApplyOracle,
    "text_dsir_weights" ->
      """WITH bg AS (
        |  SELECT doc_id, lang,
        |         (ord(substr(text, CAST(i AS INTEGER), 1)) * 31 +
        |          ord(substr(text, CAST(i AS INTEGER) + 1, 1))) % 64 AS b
        |  FROM documents, unnest(range(1, length(text))) t(i)
        |  WHERE length(text) >= 2),
        |cnt AS (SELECT doc_id, lang, b, count(*) AS c FROM bg GROUP BY 1, 2, 3),
        |bk AS (SELECT b, count(*) AS r_b,
        |              sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS t_b
        |       FROM bg GROUP BY 1),
        |tot AS (SELECT count(*) AS rr,
        |               sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS tt
        |        FROM bg),
        |lp AS (SELECT b,
        |         CAST(round_even(ln((t_b + 1.0) / (tt + 64.0)), 6)
        |              AS DECIMAL(12,6)) AS lpt,
        |         CAST(round_even(ln((r_b + 1.0) / (rr + 64.0)), 6)
        |              AS DECIMAL(12,6)) AS lpr
        |       FROM bk CROSS JOIN tot)
        |SELECT doc_id, lang, CAST(sum(c) AS BIGINT) AS n_bigrams,
        |       CAST(sum(CAST(c AS DECIMAL(18,0)) * (lpt - lpr)) AS DOUBLE)
        |         AS weight
        |FROM cnt JOIN lp USING (b)
        |GROUP BY doc_id, lang ORDER BY doc_id""".stripMargin,
    "text_line_dedup" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws
        |           FROM documents),
        |c AS (SELECT doc_id, i AS line_idx,
        |             array_to_string(ws[i*10 + 1 : i*10 + 10], ' ') AS line
        |      FROM t, unnest(range(0, CAST(ceil(len(ws) / 10.0) AS BIGINT)))
        |             r(i)),
        |s AS (SELECT doc_id, line_idx, line FROM
        |        (SELECT doc_id, line_idx, line, row_number() OVER (
        |           PARTITION BY line ORDER BY doc_id, line_idx) AS rn
        |         FROM c)
        |      WHERE rn = 1)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
        |       string_agg(line, ' ' ORDER BY line_idx) AS text_dedup
        |FROM s GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "text_chunk" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
        |SELECT doc_id, CAST(s AS INTEGER) AS chunk_id,
        |       md5(array_to_string(list_slice(ws, s*24 + 1, s*24 + 32), ' '))
        |         AS chunk_md5,
        |       CAST(len(list_slice(ws, s*24 + 1, s*24 + 32)) AS INTEGER)
        |         AS n_tokens
        |FROM t, range(0, 64) r(s)
        |WHERE s*24 < len(ws)
        |ORDER BY doc_id, chunk_id""".stripMargin,
    "text_mix_temperature" ->
      """WITH cnt AS (SELECT lang, count(*) AS c FROM documents GROUP BY lang),
        |r AS (SELECT lang, c,
        |        least(1.0, 0.5 * sqrt((SELECT max(c) FROM cnt)) / sqrt(c)) AS rate
        |      FROM cnt)
        |SELECT d.lang, CAST(min(r.c) AS BIGINT) AS orig_docs,
        |  CAST(count(CASE WHEN r.rate >= 1.0 OR substr(md5(d.text), 1, 8) <
        |    lpad(lower(to_hex(CAST(floor(r.rate * 4294967296.0) AS BIGINT))),
        |         8, '0') THEN 1 END) AS BIGINT) AS kept_docs,
        |  min(r.rate) AS rate
        |FROM documents d JOIN r ON d.lang = r.lang
        |GROUP BY d.lang ORDER BY d.lang""".stripMargin,
    "text_redact" ->
      """SELECT event_id,
        |       regexp_replace(props, '[0-9]+', '<NUM>', 'g') AS redacted,
        |       CAST(len(regexp_extract_all(props, '[0-9]+')) AS INTEGER) AS n_redactions
        |FROM events ORDER BY event_id""".stripMargin,
    "text_pii_typed" -> piiTypedOracle,
    "text_inverted_index" ->
      """WITH toks AS (
        |  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS w
        |  FROM documents),
        |df AS (SELECT w, count(*) AS c FROM toks GROUP BY w),
        |top2 AS (SELECT w FROM df ORDER BY c DESC, w LIMIT 2)
        |SELECT doc_id FROM toks JOIN top2 USING (w)
        |GROUP BY doc_id HAVING count(*) = 2
        |ORDER BY doc_id""".stripMargin,
    "text_entropy" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
        |wc AS (SELECT doc_id, w, count(*) AS c FROM toks GROUP BY 1, 2),
        |tot AS (SELECT doc_id, count(*) AS t FROM toks GROUP BY 1),
        |terms AS (
        |  SELECT wc.doc_id, tot.t,
        |         CAST(round_even(
        |           -(CAST(c AS DOUBLE) / CAST(t AS DOUBLE))
        |             * log2(CAST(c AS DOUBLE) / CAST(t AS DOUBLE)), 6)
        |           AS DECIMAL(18,6)) AS term
        |  FROM wc JOIN tot ON wc.doc_id = tot.doc_id)
        |SELECT doc_id, CAST(sum(term) AS DOUBLE) AS entropy,
        |       CAST(max(t) AS BIGINT) AS n_tokens
        |FROM terms GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "text_mix_doremi" ->
      """WITH toks AS (
        |  SELECT source, unnest(string_split(text, ' ')) AS w FROM documents),
        |freq AS (SELECT w, count(*) AS cnt FROM toks GROUP BY w),
        |tot AS (SELECT CAST(count(*) AS DOUBLE) AS tot FROM toks),
        |lp AS (
        |  SELECT t.source,
        |         CAST(round_even(round_even(
        |           ln(CAST(f.cnt AS DOUBLE) / tot.tot), 6) * 1000000.0, 0)
        |           AS BIGINT) AS lp6
        |  FROM toks t JOIN freq f ON t.w = f.w, tot),
        |dom AS (
        |  SELECT l.source, CAST(sum(l.lp6) AS BIGINT) AS s6,
        |         count(*) AS n_tokens
        |  FROM lp l GROUP BY l.source),
        |docc AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY source),
        |corpus AS (
        |  SELECT CAST(sum(s6) AS BIGINT) AS cs6,
        |         CAST(sum(n_tokens) AS BIGINT) AS ctok,
        |         CAST(count(*) AS DOUBLE) AS nd
        |  FROM dom),
        |b1 AS (
        |  SELECT d.source, docc.n_docs, d.n_tokens, c.nd,
        |         CAST(-d.s6 AS DOUBLE)
        |           / (1000000.0 * CAST(d.n_tokens AS DOUBLE)) AS nll,
        |         CAST(-c.cs6 AS DOUBLE)
        |           / (1000000.0 * CAST(c.ctok AS DOUBLE)) AS cnll
        |  FROM dom d JOIN docc ON d.source = docc.source, corpus c),
        |b2 AS (SELECT *, nll - cnll AS excess FROM b1),
        |b3 AS (SELECT *, CAST(round_even(round_even(
        |         exp(0.5 * excess), 6) * 1000000.0, 0) AS BIGINT) AS e6
        |       FROM b2),
        |s1 AS (SELECT CAST(sum(e6) AS BIGINT) AS vs FROM b3),
        |r1 AS (SELECT b3.*, CAST(e6 AS DOUBLE) / CAST(s1.vs AS DOUBLE) AS a1
        |       FROM b3, s1),
        |m2 AS (SELECT r1.*, CAST(round_even(a1 * CAST(e6 AS DOUBLE), 0)
        |         AS BIGINT) AS v2 FROM r1),
        |s2 AS (SELECT CAST(sum(v2) AS BIGINT) AS vs FROM m2),
        |r2 AS (SELECT m2.*, CAST(v2 AS DOUBLE) / CAST(s2.vs AS DOUBLE) AS a2
        |       FROM m2, s2),
        |m3 AS (SELECT r2.*, CAST(round_even(a2 * CAST(e6 AS DOUBLE), 0)
        |         AS BIGINT) AS v3 FROM r2),
        |s3 AS (SELECT CAST(sum(v3) AS BIGINT) AS vs FROM m3),
        |r3 AS (SELECT m3.*, CAST(v3 AS DOUBLE) / CAST(s3.vs AS DOUBLE) AS a3
        |       FROM m3, s3)
        |SELECT source, n_docs, n_tokens,
        |       round_even(nll, 6) AS nll,
        |       round_even(excess, 6) AS excess_loss,
        |       round_even(a1, 9) AS w_round1,
        |       round_even(a2, 9) AS w_round2,
        |       round_even(a3, 9) AS w_round3,
        |       round_even(0.75 * ((a1 + a2 + a3) / 3.0) + 0.25 / nd, 9)
        |         AS weight
        |FROM r3 ORDER BY source""".stripMargin,
    "text_logprob" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
        |freq AS (SELECT w, count(*) AS cnt FROM toks GROUP BY w),
        |tot AS (SELECT CAST(count(*) AS DOUBLE) AS tot FROM toks),
        |scored AS (
        |  SELECT t.doc_id,
        |         round_even(ln(CAST(f.cnt AS DOUBLE) / tot.tot), 6) AS lp
        |  FROM toks t JOIN freq f ON t.w = f.w, tot)
        |SELECT doc_id,
        |       round_even(CAST(sum(CAST(lp AS DECIMAL(12,6))) AS DOUBLE)
        |         / count(*), 4) AS mean_logprob
        |FROM scored GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "text_tokens" ->
      """SELECT doc_id,
        |       CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
        |       CAST(len(list_distinct(string_split(text, ' '))) AS INTEGER) AS n_distinct,
        |       CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS INTEGER) AS n_subtokens
        |FROM documents ORDER BY doc_id""".stripMargin,
    "text_termfreq" ->
      """SELECT w, count(*) AS n FROM (
        |  SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        |GROUP BY w ORDER BY n DESC, w LIMIT 20""".stripMargin,
    "text_datacard" ->
      """WITH b AS (
        |  SELECT doc_id, lang, source, n_chars,
        |         CAST(len(string_split(text, ' ')) AS BIGINT) AS toks,
        |         md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fp
        |  FROM documents),
        |a AS (
        |  SELECT count(*) AS n_docs,
        |         CAST(sum(toks) AS BIGINT) AS n_tokens,
        |         CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
        |         CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
        |         CAST(count(DISTINCT fp) AS BIGINT) AS n_distinct_fp,
        |         CAST(sum(CAST(n_chars AS BIGINT)) AS BIGINT) AS sum_chars
        |  FROM b)
        |SELECT n_docs, n_tokens, n_langs, n_sources,
        |       1.0 - CAST(n_distinct_fp AS DOUBLE) / CAST(n_docs AS DOUBLE) AS dup_rate,
        |       CAST(sum_chars AS DOUBLE) / CAST(n_docs AS DOUBLE) AS mean_chars
        |FROM a""".stripMargin,
    "text_langid" ->
      """SELECT doc_id, lang,
        |       CAST(length(regexp_replace(text, '[^aeiou]', '', 'g')) AS DOUBLE)
        |         / CAST(length(regexp_replace(text, '[^a-z]', '', 'g')) AS DOUBLE) AS vowel_ratio,
        |       CASE WHEN CAST(length(regexp_replace(text, '[^aeiou]', '', 'g')) AS DOUBLE)
        |                 / CAST(length(regexp_replace(text, '[^a-z]', '', 'g')) AS DOUBLE) > 0.42
        |            THEN 'vowel-heavy'
        |            WHEN CAST(length(regexp_replace(text, '[^aeiou]', '', 'g')) AS DOUBLE)
        |                 / CAST(length(regexp_replace(text, '[^a-z]', '', 'g')) AS DOUBLE) > 0.36
        |            THEN 'balanced'
        |            ELSE 'consonant-heavy' END AS pred_class
        |FROM documents ORDER BY doc_id""".stripMargin,
    "text_tfidf" ->
      """WITH words AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |tf AS (SELECT doc_id, w, count(*) AS tf FROM words GROUP BY 1, 2),
        |df AS (SELECT w, count(DISTINCT doc_id) AS df FROM words GROUP BY 1)
        |SELECT tf.doc_id, tf.w,
        |       round_even(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df), 6) AS tfidf
        |FROM tf JOIN df ON tf.w = df.w CROSS JOIN n
        |ORDER BY tfidf DESC, tf.doc_id, tf.w LIMIT 100""".stripMargin,
    "text_zipf_fit" ->
      """WITH freq AS (
        |  SELECT w, count(*) AS f FROM (
        |    SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        |  GROUP BY w),
        |ranked AS (
        |  SELECT round_even(ln(CAST(rank AS DOUBLE)), 6) AS x,
        |         round_even(ln(CAST(f AS DOUBLE)), 6) AS y
        |  FROM (SELECT f, row_number() OVER (ORDER BY f DESC, w) AS rank
        |        FROM freq)
        |  WHERE rank <= 500),
        |a AS (
        |  SELECT count(*) AS n,
        |         sum(CAST(round_even(x, 12) AS DECIMAL(28,12))) AS sx,
        |         sum(CAST(round_even(y, 12) AS DECIMAL(28,12))) AS sy,
        |         sum(CAST(round_even(x * x, 12) AS DECIMAL(28,12))) AS sxx,
        |         sum(CAST(round_even(x * y, 12) AS DECIMAL(28,12))) AS sxy
        |  FROM ranked)
        |SELECT n,
        |       round_even((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |                   - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |                  / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 8) AS zipf_slope,
        |       round_even((CAST(sy AS DOUBLE)
        |                   - ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |                       - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |                      / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |                         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
        |                     * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE), 8) AS intercept
        |FROM a""".stripMargin,
    "text_quality_classifier" -> qualityClassifierOracle,
    "text_gopher_rules" ->
      """WITH m AS (
        |  SELECT doc_id,
        |         CAST(len(string_split(text, ' ')) AS INTEGER) AS n_words,
        |         list_sum(list_transform(string_split(text, ' '),
        |                                 w -> length(w))) AS sumlen,
        |         CAST(len(list_filter(string_split(text, ' '),
        |                    w -> regexp_matches(w, '[a-z]'))) AS INTEGER) AS n_alpha,
        |         CAST(len(list_filter(string_split(text, ' '),
        |                    w -> regexp_matches(w, '^[#@$%^&*]+$'))) AS INTEGER) AS n_sym,
        |         CAST(len(list_filter(string_split(text, ' '),
        |                    w -> w IN ('the', 'a', 'of', 'and', 'or'))) AS INTEGER) AS n_stop
        |  FROM documents)
        |SELECT doc_id, n_words,
        |       n_words >= 5 AND n_words <= 10000 AS r_count,
        |       CAST(sumlen AS DOUBLE) / CAST(n_words AS DOUBLE) >= 3.0
        |         AND CAST(sumlen AS DOUBLE) / CAST(n_words AS DOUBLE) <= 10.0 AS r_wordlen,
        |       CAST(n_sym AS DOUBLE) / CAST(n_words AS DOUBLE) <= 0.1 AS r_symbols,
        |       CAST(n_alpha AS DOUBLE) / CAST(n_words AS DOUBLE) >= 0.8 AS r_alpha,
        |       n_stop >= 2 AS r_stopwords,
        |       (n_words >= 5 AND n_words <= 10000)
        |         AND (CAST(sumlen AS DOUBLE) / CAST(n_words AS DOUBLE) >= 3.0
        |              AND CAST(sumlen AS DOUBLE) / CAST(n_words AS DOUBLE) <= 10.0)
        |         AND (CAST(n_sym AS DOUBLE) / CAST(n_words AS DOUBLE) <= 0.1)
        |         AND (CAST(n_alpha AS DOUBLE) / CAST(n_words AS DOUBLE) >= 0.8)
        |         AND (n_stop >= 2) AS pass
        |FROM m ORDER BY doc_id""".stripMargin,
    "text_quality" ->
      """SELECT doc_id,
        |       least(CAST(n_chars AS DOUBLE) / 500.0, 1.0) * 0.3
        |       + (CAST(len(list_filter(string_split(text, ' '),
        |                    x -> x IN ('the', 'a', 'of', 'and', 'or'))) AS DOUBLE)
        |          / CAST(len(string_split(text, ' ')) AS DOUBLE)) * 0.4
        |       + (CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
        |          / CAST(len(string_split(text, ' ')) AS DOUBLE)) * 0.3 AS quality
        |FROM documents ORDER BY doc_id""".stripMargin,
    "text_repetition" ->
      """WITH base AS (
        |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |words AS (SELECT doc_id, unnest(ws) AS w FROM base),
        |wc AS (SELECT doc_id, w, count(*) AS c FROM words GROUP BY 1, 2),
        |wstats AS (
        |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS nw,
        |         CAST(count(*) AS BIGINT) AS nd, CAST(max(c) AS BIGINT) AS topw,
        |         CAST(sum(c * length(w)) AS BIGINT) AS chars
        |  FROM wc GROUP BY 1),
        |grams AS (
        |  SELECT doc_id, unnest(CASE WHEN len(ws) >= 2
        |           THEN list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1])
        |           ELSE [] END) AS g
        |  FROM base),
        |gc AS (SELECT doc_id, g, count(*) AS c FROM grams GROUP BY 1, 2),
        |gstats AS (
        |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS ng, CAST(max(c) AS BIGINT) AS topg
        |  FROM gc GROUP BY 1)
        |SELECT w.doc_id,
        |       CAST(w.nw AS INTEGER) AS n_words,
        |       1.0 - w.nd / w.nw AS dup_word_frac,
        |       w.topw / w.nw AS top_word_frac,
        |       coalesce(g.topg / g.ng, 0.0) AS top_bigram_frac,
        |       w.chars / w.nw AS mean_word_len,
        |       (w.topw / w.nw <= 0.2 AND coalesce(g.topg / g.ng, 0.0) <= 0.18
        |        AND w.chars / w.nw >= 3.0 AND w.chars / w.nw <= 10.0) AS keep
        |FROM wstats w LEFT JOIN gstats g USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    // positional self-join formulation — provably the same pair multiset
    // as the Spark side's per-doc shifted-pair generation
    "text_cooccurrence" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |w AS (SELECT doc_id, unnest(ws) AS w, generate_subscripts(ws, 1) AS pos FROM t)
        |SELECT a.w AS w1, b.w AS w2, CAST(count(*) AS BIGINT) AS n
        |FROM w a JOIN w b ON a.doc_id = b.doc_id AND b.pos - a.pos BETWEEN 1 AND 2
        |GROUP BY 1, 2
        |ORDER BY n DESC, w1, w2 LIMIT 50""".stripMargin,
    "text_fingerprint" ->
      """SELECT doc_id,
        |       md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fingerprint,
        |       CAST(length(regexp_replace(lower(text), '\s+', ' ', 'g')) AS INTEGER) AS n_norm_chars
        |FROM documents ORDER BY doc_id""".stripMargin,
    "text_rolling_fingerprint" ->
      """SELECT doc_id,
        |       list_min(list_transform(range(0, greatest(length(text) - 8, 0) + 1),
        |                i -> md5(substr(text, i + 1, 8)))) AS rolling_fp,
        |       CAST(length(text) AS INTEGER) AS n_chars_seen
        |FROM documents ORDER BY doc_id""".stripMargin)
}
