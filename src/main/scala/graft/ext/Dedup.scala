package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Ckpt.CutOps
import graft.Tables
import graft.pipeline.EpochStore

/** SURVEY.md §2.K — deduplication operators for LLM training-data
  * pipelines: exact (hash-groupBy), word-set Jaccard (oracle-checked),
  * MinHash-LSH banding (deterministic seeded hashes, candidate-verify),
  * and SimHash (64-bit, banded hamming pairs).
  *
  * Scale posture: every stage is a pure DataFrame plan — shingle explode →
  * hash-agg signatures → band-bucket equi-join (shuffle on band hash, so
  * candidate generation is O(collisions), never O(n²)) → exact verify only
  * on candidates. At 100 TB the band join is the only wide stage and it
  * partitions by band hash; no driver-side state.
  */
object Dedup extends graft.QueryModule {

  private def docs(s: SparkSession, d: String): DataFrame = Tables.documents(s, d)

  /** Distinct words per doc as (doc_id, w) rows. */
  private def wordRows(df: DataFrame): DataFrame =
    df.select(col("doc_id"), explode(array_distinct(split(col("text"), " "))).as("w"))

  /** Exact dedup by key (hash-groupBy form of `dropDuplicates`): one
    * surviving id + duplicate count per (lang, source, n_chars) bucket. */
  private def exact(s: SparkSession, d: String): DataFrame =
    docs(s, d).groupBy(col("lang"), col("source"), col("n_chars"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_dups"))
      .orderBy("lang", "source", "n_chars")

  /** Exact word-set Jaccard pairs over an arbitrary (key, text) frame via
    * the word inverted index (word self-join → co-occurrence counts →
    * Jaccard). All-pairs-exact: quadratic inside similar groups, so this
    * is the GROUND-TRUTH tool for specs and bounded probes, not the scale
    * path ([[minhashClusters]] is). */
  def jaccardPairs(docsDf: DataFrame, keyCol: String, textCol: String,
                   minJaccard: Double = 0.8): DataFrame = {
    val w = docsDf.select(col(keyCol).as("doc_id"),
      explode(array_distinct(split(col(textCol), " "))).as("w"))
    val cnt = w.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val inter = w.as("a").join(w.as("b"),
        col("a.w") === col("b.w") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("i"), col("b.doc_id").as("j"))
      .agg(count(lit(1)).as("c"))
    inter
      .join(cnt.as("na"), col("i") === col("na.doc_id"))
      .join(cnt.as("nb"), col("j") === col("nb.doc_id"))
      .select(col("i"), col("j"),
        (col("c") / (col("na.n") + col("nb.n") - col("c"))).as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
      .orderBy("i", "j")
  }

  /** Exact n-gram (word-set) Jaccard near-dup pairs — the oracle-checked
    * ground truth the MinHash variant approximates. Bounded probe set. */
  private def ngramJaccard(s: SparkSession, d: String): DataFrame =
    jaccardPairs(docs(s, d).filter(col("doc_id") < 150), "doc_id", "text")

  /** ASYMMETRIC containment dedup [N] — C(i→j) = |Aᵢ∩Aⱼ|/|Aᵢ|: the
    * quote-inclusion case resemblance misses entirely (a paragraph
    * copied into a much longer page has Jaccard ≈ |A|/|B| ≈ 0 but
    * containment ≈ 1 — Broder's two measures). Same blocked word-set
    * machinery as `dedup_ngram_jaccard` (the ≤150-doc ground-truth
    * block; the scale path would route candidates through the LSH
    * band join first, exactly as minhashPairs does for resemblance).
    * The set unit is the word-3-gram shingle (not single words — the
    * synthetic corpus' 31-word vocabulary makes word-level containment
    * saturate near 1 for every pair; shingles restore discrimination,
    * and they are what Broder's measures are defined over anyway).
    * Ordered pairs: both directions emitted, threshold 0.5 on the
    * SMALLER side's coverage. */
  private def containmentPairs(s: SparkSession, d: String): DataFrame = {
    val w = docs(s, d).filter(col("doc_id") < 150)
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .filter(size(col("ws")) >= 3)
      .select(col("doc_id"), explode(array_distinct(expr(
        """transform(sequence(0, size(ws) - 3),
          |  i -> concat(ws[i], ' ', ws[i + 1], ' ', ws[i + 2]))""".stripMargin
      ))).as("w"))
    val cnt = w.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    w.as("a").join(w.as("b"),
        col("a.w") === col("b.w") && col("a.doc_id") =!= col("b.doc_id"))
      .groupBy(col("a.doc_id").as("i"), col("b.doc_id").as("j"))
      .agg(count(lit(1)).as("c"))
      .join(cnt, col("i") === col("doc_id"))
      .select(col("i"), col("j"),
        (col("c").cast("double") / col("n").cast("double")).as("containment"))
      .filter(col("containment") >= 0.5)
      .orderBy("i", "j")
  }

  private val NumHashes = 16
  // b=4 bands × r=4 rows: P(candidate) = 1-(1-J^r)^b ≈ 0.88 at J=0.8
  // (the old b=2/r=8 caught only ~0.31 of threshold pairs — precision
  // without recall). Extra false candidates are cheap: the exact-Jaccard
  // verify stage rejects them after the size-ratio gate.
  private val NumBands = 4

  /** The md5 pipelines' 16 minhash slots, derived from TWO md5
    * evaluations per word instead of sixteen (r10): md5('a:'||w) and
    * md5('b:'||w) are each split into eight 4-hex-char chunks — sixteen
    * independent 16-bit hash functions for an 8× cut of the signature
    * stage, which dominated the md5 family's runtime. A 16-bit slot
    * space adds hash-collision probability ~n/65536 per slot to the
    * minhash match estimate (n ≈ doc word count) — negligible against
    * the J >= 0.8 banding threshold, and the exact-Jaccard verify keeps
    * precision exact regardless. Both halves of every oracle mirror the
    * same substr chunks, so cross-engine hashes stay bit-identical.
    * [[md5WordSlotsSql]] / the `h1`/`h2` projection below are the two
    * sides of one formula — change them TOGETHER. */
  private def md5SlotAgg(i: Int): Column = {
    val src = if (i < 8) col("h1") else col("h2")
    min(substring(src, 1 + 4 * (i % 8), 4)).as(s"m$i")
  }
  private def md5WordHashCols(w: DataFrame): DataFrame =
    w.withColumn("h1", md5(concat_ws(":", lit("a"), col("w"))))
      .withColumn("h2", md5(concat_ws(":", lit("b"), col("w"))))
  /** SQL twin of [[md5SlotAgg]] over a `w`-relation already carrying
    * h1/h2 (see [[md5WordHashesSql]]). */
  private def md5SlotSql(i: Int): String = {
    val src = if (i < 8) "h1" else "h2"
    s"min(substr($src, ${1 + 4 * (i % 8)}, 4)) AS m$i"
  }
  /** SQL fragment: annotate the `w` word relation with the two per-word
    * md5 hashes the slots chunk (one line — spliced into stripMargin
    * oracle templates). */
  private def md5WordHashesSql: String =
    "SELECT doc_id, w, md5('a:' || w) AS h1, md5('b:' || w) AS h2 FROM w"

  /** MinHash signature: ONE xxhash64 per word + the single-pass custom
    * aggregate [[graft.functions.MinHashAgg]] (numHashes derived
    * permutations via splitmix64 mixing, one buffer update per word —
    * replaces numHashes independent seeded-hash evaluations feeding
    * separate agg slots). */
  private def minhashSig(w: DataFrame, keyCol: String, numHashes: Int): DataFrame =
    w.groupBy(col(keyCol)).agg(
      graft.functions.VectorFunctions.minhash(xxhash64(col("w")), numHashes).as("sig"))

  /** Reusable MinHash+LSH near-dup pair detection over any (key, text)
    * DataFrame — the UNBOUNDED scale path: seeded signatures → band
    * buckets → bucket equi-join candidates (shuffle keyed on (band, hash),
    * O(collisions) not O(n²)) → exact Jaccard verify computed per
    * candidate pair with array_intersect (a scalar op on the pair, not a
    * re-join over words). Requires numHashes % numBands == 0.
    * Deterministic but not SQL-mirrorable (xxhash64) — the registered
    * key is rows-only checked; recall vs the oracle-checked ngram ground
    * truth is asserted in DedupRecallSpec. */
  def minhashPairs(docs: DataFrame, keyCol: String, textCol: String,
                   numHashes: Int = NumHashes, numBands: Int = NumBands,
                   minJaccard: Double = 0.8): DataFrame = {
    require(numHashes % numBands == 0,
      s"numHashes ($numHashes) must be divisible by numBands ($numBands)")
    val w = docs.select(col(keyCol),
      explode(array_distinct(split(col(textCol), " "))).as("w"))
    val sig = minhashSig(w, keyCol, numHashes)
    val rowsPerBand = numHashes / numBands
    val bandStructs = (0 until numBands).map { b =>
      val cols = (0 until rowsPerBand).map(r => element_at(col("sig"), b * rowsPerBand + r + 1))
      struct(lit(b).as("band"), xxhash64(cols: _*).as("h"))
    }
    val bands = sig.select(col(keyCol), explode(array(bandStructs: _*)).as("bh"))
      .select(col(keyCol), col("bh.band").as("band"), col("bh.h").as("h"))
    val cand = bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.h") === col("y.h") &&
          col(s"x.$keyCol") < col(s"y.$keyCol"))
      .select(col(s"x.$keyCol").as("i"), col(s"y.$keyCol").as("j"))
      .distinct()
    // Verify-stage economics at scale: a degenerate corpus can emit
    // millions of candidates, and each verify join ships a word array per
    // side. Three measures keep that cheap: (1) gate on the word COUNTS
    // first — an 8-byte column join — because J >= t requires
    // |smaller|/|larger| >= t (division form: int/int rounds to the same
    // double as the final jaccard compare, so exact-threshold pairs like
    // a 4-word subset of a 5-word doc at t=0.8 aren't lost to
    // multiply-rounding); (2) intersect 8-byte xxhash64 word ids, not
    // strings — ~10× less shuffle per candidate, same jaccard up to
    // 64-bit hash collisions (~n²/2⁶⁵ — negligible); (3) count the
    // intersection with the codegen'd sorted-merge
    // [[graft.functions.SortedIntersectCount]] instead of
    // `array_intersect` (which hash-sets and materializes the array per
    // candidate).
    val hashed = docs.select(col(keyCol),
        array_distinct(split(col(textCol), " ")).as("ws"))
      .select(col(keyCol),
        array_sort(transform(col("ws"), w => xxhash64(w))).as("hs"),
        size(col("ws")).as("n"))
    val sizes = hashed.select(col(keyCol), col("n"))
    val gated = cand
      .join(sizes.select(col(keyCol).as("i"), col("n").as("ni")), Seq("i"))
      .join(sizes.select(col(keyCol).as("j"), col("n").as("nj")), Seq("j"))
      .filter(least(col("ni"), col("nj")) / greatest(col("ni"), col("nj")) >= minJaccard)
    gated
      .join(hashed.select(col(keyCol).as("i"), col("hs").as("ha")), Seq("i"))
      .join(hashed.select(col(keyCol).as("j"), col("hs").as("hb")), Seq("j"))
      .withColumn("inter",
        graft.functions.VectorFunctions.intersect_count(col("ha"), col("hb")))
      .select(col("i"), col("j"),
        (col("inter") / (col("ni") + col("nj") - col("inter"))).as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
      .orderBy("i", "j")
  }

  /** MinHash+LSH near-dup CLUSTER assignment — the scale path (VERDICT
    * r3 #1): emitting every verified pair is quadratic inside duplicate
    * cliques (k near-identical docs → k(k−1)/2 pairs; 2.81 M pairs at
    * sf0.1 — the term that dominates at 100×), so this emits ONE row per
    * document `(key, cluster_id)` instead, with cluster_id = the minimum
    * doc key in the near-dup component. Pipeline:
    *
    *  1. EXACT collapse by word-set fingerprint. Set-Jaccard sees only the
    *     distinct word set, so docs with identical sets are J=1 duplicates
    *     by definition — collapse them to one representative BEFORE any
    *     pairwise work. A clique of k byte-identical (or set-identical)
    *     docs costs 1 representative here instead of k²/2 pairs; this is
    *     the step that makes real-corpus mega-cliques linear.
    *  2. Per-representative MinHash signature via the codegen'd
    *     [[graft.functions.MinHashArray]] — a row-local fold over the
    *     word-hash array computed in step 1, so signatures need no
    *     explode and no aggregation exchange at all.
    *  3. LSH banding, then LINEAR candidates per bucket instead of the
    *     k(k−1)/2 pairwise join: each (band, hash) bucket contributes
    *     (a) STAR edges (bucket-min rep, member) and (b) CHAIN edges
    *     between members adjacent in full-signature order — similar docs
    *     sort together, so chain edges overwhelmingly survive exact
    *     verification, giving every member two independent link chances
    *     per band (×4 bands). 2(k−1) edges per k-member bucket keeps the
    *     candidate stage LINEAR in corpus size (the all-pairs bucket join
    *     at sf0.1 emits 2.9 M candidates; star+chain emits ~25 k). For
    *     cluster output, bucket connectivity is what matters, not the
    *     full pair set. Large-scale LSH dedup pipelines union bucket
    *     members outright; we additionally verify every candidate edge,
    *     so precision is exact.
    *  4. Size-gate + exact-Jaccard verify (sorted-id codegen intersect)
    *     of the star edges — same economics as [[minhashPairs]], but over
    *     a linear candidate set.
    *  5. [[connectedComponents]] over the verified star edges
    *     (localCheckpoint'ed once — the iteration must not replan the LSH
    *     pipeline every round), then expand labels back to every doc
    *     through the fingerprint membership map: two linear joins.
    *
    * Output and every intermediate are linear in the corpus. Recall
    * trade-off vs the all-pairs bucket join: a member whose star edge to
    * its bucket center fails verification loses that bucket's
    * connectivity even if it is J≥0.8-connected to a different member;
    * with 4 independent bands this is rare (cluster recall asserted ≥0.9
    * in DedupSpec, measured 1.0 at sf0.01), and the exact verify keeps
    * false merges impossible (refinement property, also spec'd). */
  def minhashClusters(docsDf: DataFrame, keyCol: String, textCol: String,
                      numHashes: Int = NumHashes, numBands: Int = NumBands,
                      minJaccard: Double = 0.8): DataFrame = {
    require(numHashes % numBands == 0,
      s"numHashes ($numHashes) must be divisible by numBands ($numBands)")
    val withSet = docsDf.select(col(keyCol).as("id"),
      array_sort(transform(array_distinct(split(col(textCol), " ")),
        w => xxhash64(w))).as("hs"))
    // fingerprint = hash of the sorted distinct word-hash array (xxhash64
    // is defined over array<bigint>); docs sharing fp share hs exactly
    val withFp = withSet.withColumn("fp", xxhash64(col("hs")))
    val membership = withFp.select(col("id"), col("fp"))
    // one representative per unique word set; materialized once — it is
    // read by banding, the verify joins, and the final expand
    val reps = withFp.groupBy(col("fp"))
      .agg(min(col("id")).as("rid"), min_by(col("hs"), col("id")).as("hs"))
      .withColumn("n", size(col("hs")))
      .cut()
    val sig = reps.select(col("rid"),
      graft.functions.VectorFunctions.minhash_array(col("hs"), numHashes).as("sig"))
    val rowsPerBand = numHashes / numBands
    val bandStructs = (0 until numBands).map { b =>
      val cols = (0 until rowsPerBand).map(r => element_at(col("sig"), b * rowsPerBand + r + 1))
      struct(lit(b).as("band"), xxhash64(cols: _*).as("h"))
    }
    val bands = sig.select(col("rid"), col("sig"),
        explode(array(bandStructs: _*)).as("bh"))
      .select(col("rid"), col("sig"), col("bh.band").as("band"), col("bh.h").as("h"))
    // star + chain candidates over one (band, h)-partitioned window pass
    import org.apache.spark.sql.expressions.Window
    val bucket = Window.partitionBy(col("band"), col("h"))
    val annotated = bands.select(col("rid"),
      lag(col("rid"), 1).over(bucket.orderBy(col("sig"), col("rid"))).as("prev"),
      // skip-2 links bridge a single failed chain edge without giving up
      // linearity (3(k−1) candidate edges per k-member bucket total)
      lag(col("rid"), 2).over(bucket.orderBy(col("sig"), col("rid"))).as("prev2"),
      min(col("rid")).over(bucket).as("bmin"))
    val starEdges = annotated.filter(col("rid") =!= col("bmin"))
      .select(col("bmin").as("i"), col("rid").as("j")) // i < j: i is the bucket min
    def undirected(a: Column, b: Column) =
      annotated.filter(a.isNotNull && a =!= b)
        .select(least(a, b).as("i"), greatest(a, b).as("j"))
    val cand = starEdges
      .union(undirected(col("prev"), col("rid")))
      .union(undirected(col("prev2"), col("rid")))
      .filter(col("i") =!= col("j")).distinct()
    val sizes = reps.select(col("rid"), col("n"))
    val gated = cand
      .join(sizes.select(col("rid").as("i"), col("n").as("ni")), Seq("i"))
      .join(sizes.select(col("rid").as("j"), col("n").as("nj")), Seq("j"))
      .filter(least(col("ni"), col("nj")) / greatest(col("ni"), col("nj")) >= minJaccard)
    val verified = gated
      .join(reps.select(col("rid").as("i"), col("hs").as("ha")), Seq("i"))
      .join(reps.select(col("rid").as("j"), col("hs").as("hb")), Seq("j"))
      .withColumn("inter",
        graft.functions.VectorFunctions.intersect_count(col("ha"), col("hb")))
      .filter(col("inter") / (col("ni") + col("nj") - col("inter")) >= minJaccard)
      .select(col("i"), col("j"))
      .cut()
    val labels = connectedComponents(reps.select(col("rid")), verified, "rid")
    // rid = min doc key of its fp group and the component label = min rid,
    // so cluster_id is the minimum doc key over the whole component
    membership
      .join(reps.select(col("fp"), col("rid")), Seq("fp"))
      .join(labels, Seq("rid"))
      .select(col("id").as(keyCol), col("cluster_id"))
      .orderBy(keyCol)
  }

  /** md5 of the sorted distinct-word list: docs with identical word SETS
    * share it. Set-Jaccard is defined over exactly this set, so two docs
    * sharing the key are J=1 duplicates by definition — the key is the
    * deterministic recall anchor the promoted dedup gates below build on,
    * and (unlike xxhash64) DuckDB computes it bit-identically. */
  private def wordSetKey: Column =
    md5(concat_ws(" ", sort_array(array_distinct(split(col("text"), " ")))))

  /** MinHash+LSH near-dup CLUSTER gate — the xxhash64 [[minhashClusters]]
    * pipeline promoted to a DRIVER-VISIBLE oracle row (r10, VERDICT #1;
    * previously rows-only). The full cluster assignment runs unchanged
    * (library surface: [[minhashClusters]]; behavior specs: DedupSpec
    * refinement + recall floors), and the registered output is the
    * invariant view the oracle can pin TRUE per doc:
    *
    *  - `label_ok`: cluster_id ≤ doc_id — the min-label contract (the
    *    component label is the minimum member id, so no doc may carry a
    *    label above itself);
    *  - `setdup_ok`: all docs sharing this doc's exact distinct-word SET
    *    share its cluster — deterministically true by construction (the
    *    pipeline collapses identical word sets to one fingerprint before
    *    any hashing), and exactly computable by DuckDB;
    *  - `band_ok` (global): the count of docs in a non-singleton xx
    *    cluster is within 10% (abs floor 2) of the count of docs touched
    *    by the INDEPENDENT md5 twin's verified edge set
    *    ([[md5StarChainPairs]] — the same star/chain discipline that is
    *    fully hash-checked as `dedup_clusters_md5`). Both quantities are
    *    "docs with at least one verified near-dup", so the twin never
    *    pays its component fixpoint in-query (cluster-count banding did:
    *    ~8.5 s of CC rounds at sf0.1 for a 1-row comparison). Measured
    *    divergence from banding randomness near the J=0.8 threshold:
    *    346/344 (sf0.001), 332/339 (sf0.01), 3546/3452 (sf0.1) —
    *    0.6–2.7%, so 10% holds at every SF with margin while still
    *    failing hard on a broken candidate or verify stage.
    *
    * RECALIBRATION (r11, ADVICE): every `band_ok` tolerance in this file
    * (this 10%/abs-2 band, `dedup_minhash_mllib`'s [0.85, 1.25]×,
    * `dedup_simhash`'s [0.25, 1.25]×) compares two INDEPENDENT hash
    * pipelines, so the ratio is a distribution-dependent statistic
    * calibrated on the driver generator at sf0.001/0.01/0.1 — a new
    * scale factor, generator tweak, or corpus swap can flip the boolean
    * WITHOUT a pipeline regression. If the driver gate hash-fails on one
    * of these keys after a data change, re-measure the two counts at the
    * new SF first (SPARK_GRAFT_ONLY + a .show on the band relation) and
    * re-widen before suspecting the pipelines.
    *
    * A regression anywhere in the xx pipeline now flips a boolean and
    * hash-fails the driver gate instead of hiding behind `no_oracle`. */
  private def minhash(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docsDf = docs(s, d)
    // r15 (guide §2.4): the cluster assignment feeds BOTH output legs
    // (the per-doc invariants and the 1-row band gate), and its tail —
    // two joins plus a global orderBy — re-executed once per leg when
    // left lazy; materialize it once (|docs| rows)
    val xx = graft.Ckpt.cut(minhashClusters(docsDf, "doc_id", "text"))
    val wkW = Window.partitionBy(col("wk"))
    val perDoc = xx.join(docsDf.select(col("doc_id"), wordSetKey.as("wk")), Seq("doc_id"))
      .select(col("doc_id"),
        (col("cluster_id") <= col("doc_id")).as("label_ok"),
        (min(col("cluster_id")).over(wkW) === max(col("cluster_id")).over(wkW))
          .as("setdup_ok"))
    val band = xx.groupBy(col("cluster_id")).agg(count(lit(1)).as("sz"))
      .filter(col("sz") >= 2)
      .agg(coalesce(sum(col("sz")), lit(0L)).as("n_xx"))
      .crossJoin(md5StarChainPairs(docsDf)
        .select(explode(array(col("i"), col("j"))).as("dd"))
        .agg(countDistinct(col("dd")).as("n_md5")))
      .select((abs(col("n_xx") - col("n_md5")) * 100 <=
        greatest(lit(200L), col("n_md5") * 10)).as("band_ok"))
    perDoc.crossJoin(broadcast(band))
      .select(col("doc_id"), col("label_ok"), col("setdup_ok"), col("band_ok"))
      .orderBy("doc_id")
  }

  /** [[minhashPairs]]'s fully oracle-checkable twin: identical LSH shape
    * (16 signature slots, b=4/r=4 banding, bucket equi-join, exact-Jaccard
    * verify) but every hash is md5 — the one hash function Spark and
    * DuckDB share bit-for-bit. Signature slot i is the lexicographic MIN
    * of a 4-hex-char chunk of md5('a:'||w) / md5('b:'||w) (sixteen
    * independent 16-bit hash functions from two md5 evaluations — see
    * [[md5SlotAgg]]); band keys are md5 over the concatenated slot
    * strings. Slower than the xxhash64 path (two md5 evaluations per
    * word vs one xxhash64 + splitmix64 mixing) — it exists so the
    * near-dup PAIR SET itself gets a hash_match row, not just a
    * rows-only count. */
  private def minhashMd5(s: SparkSession, d: String): DataFrame =
    minhashMd5Pairs(docs(s, d))

  /** md5 MinHash band rows `(doc_id, band, h)` over an arbitrary
    * `(doc_id, text)` relation — the per-doc half of the md5 LSH
    * pipeline, factored out (r10) because it is CORPUS-INDEPENDENT: a
    * doc's signature and band keys never depend on what else is in the
    * corpus, which is exactly what makes the incremental variant below
    * sound (banding a delta against a SAVED band store sees the same
    * keys a full rebuild would). */
  def md5BandRows(docsDf: DataFrame): DataFrame = {
    val k = NumHashes; val b = NumBands; val r = k / b
    val sigCols = (0 until k).map(md5SlotAgg)
    val sig = md5WordHashCols(wordRows(docsDf))
      .groupBy(col("doc_id")).agg(sigCols.head, sigCols.tail: _*)
    val bandStructs = (0 until b).map { bi =>
      val slots = (0 until r).map(ri => col(s"m${bi * r + ri}"))
      struct(lit(bi).as("band"), md5(concat_ws("|", slots: _*)).as("h"))
    }
    sig.select(col("doc_id"), explode(array(bandStructs: _*)).as("bh"))
      .select(col("doc_id"), col("bh.band").as("band"), col("bh.h").as("h"))
  }

  /** The md5 family's word identity for the VERIFY stage: the first 15
    * hex chars of md5(word) as a 60-bit long (fits signed BIGINT in both
    * engines — the same trick as the simhash twin). Long-typed so the
    * per-candidate intersection runs the allocation-free codegen
    * two-pointer [[graft.functions.SortedIntersectCount]] on 8-byte
    * elements instead of `array_intersect` on strings — the measure that
    * took the xxhash verify from 66 to 18 s, now applied to the md5
    * (oracle-mirrorable) side. Jaccard is over the DISTINCT-ID sets,
    * computed identically by both engines, so even a 60-bit collision
    * (P ≈ n²/2⁶¹ per doc) cannot cause a cross-engine mismatch — both
    * sides would merge the same pair of words. */
  private def wordIdArr: Column =
    array_sort(array_distinct(transform(
      array_distinct(split(col("text"), " ")),
      // r14: graft_hex_long replaces conv(substring(..),16,10) — the
      // lambda itself stays interpreted (HOF), but the per-word parse
      // drops the generic-radix conv's allocations (HexToLongSpec pins
      // value equality)
      w => graft.functions.VectorFunctions.hex_long(md5(w), 1, 15))))

  /** DuckDB mirror of [[wordIdArr]]'s per-word id, over a column named
    * `w` (hex-digit polynomial — DuckDB lacks conv). */
  private[ext] def wordIdPolySql: String =
    (0 until 15).map { i =>
      val p = java.math.BigInteger.valueOf(16).pow(14 - i)
      s"(strpos('0123456789abcdef', substr(md5(w), ${i + 1}, 1)) - 1) * CAST($p AS BIGINT)"
    }.mkString("\n           + ")

  /** Shared oracle CTE fragment: the distinct 60-bit word ids per doc
    * (follows a `w (doc_id, w)` CTE). */
  private def wordIdsCteSql: String =
    s"""ids AS (
       |  SELECT DISTINCT doc_id,
       |         $wordIdPolySql AS id
       |  FROM w)""".stripMargin

  /** Exact word-set Jaccard verification of candidate `(i, j)` pairs
    * against `docsDf`, at threshold `minJ` → `(i, j, jaccard)`. The
    * id-count gate is a pure necessary condition for J >= minJ, so a
    * gateless oracle still matches exactly. Public: the streaming
    * incremental-dedup twin verifies each delta batch with it. */
  def verifyExactJaccard(cand: DataFrame, docsDf: DataFrame,
                         minJ: Double): DataFrame = {
    // the codegen intersect resolves through the session function
    // registry — idempotent, so register here rather than relying on
    // every calling key having done it
    graft.functions.VectorFunctions.register(docsDf.sparkSession)
    // r15 note: a candidate-touched semi-join prefilter of the id-array
    // build was tried here (only docs in >=1 candidate can affect the
    // output) and MEASURED SLOWER at sf0.1 — the candidate set must be
    // materialized first to avoid re-running the caller's banding subplan
    // per reference, and that extra action (+0.7 s on the corpus probe)
    // outweighs the saved per-word md5 work on the bench corpus. Left as
    // the plain full-corpus build; revisit only with a measured win.
    val idArrs = docsDf.select(col("doc_id"), wordIdArr.as("ids"))
    // same candidate economics as minhashPairs: gate on id counts
    // (8-byte join) before shipping arrays, then the codegen two-pointer
    // intersect over the pre-sorted 8-byte ids
    val sizes = idArrs.select(col("doc_id"), size(col("ids")).as("n"))
    val gated = cand
      .join(sizes.select(col("doc_id").as("i"), col("n").as("ni")), Seq("i"))
      .join(sizes.select(col("doc_id").as("j"), col("n").as("nj")), Seq("j"))
      .filter(least(col("ni"), col("nj")) / greatest(col("ni"), col("nj")) >= minJ)
    val inter = graft.functions.VectorFunctions.intersect_count(
      col("ha"), col("hb"))
    gated
      .join(idArrs.select(col("doc_id").as("i"), col("ids").as("ha")), Seq("i"))
      .join(idArrs.select(col("doc_id").as("j"), col("ids").as("hb")), Seq("j"))
      .select(col("i"), col("j"),
        (inter / (size(col("ha")) + size(col("hb")) - inter)).as("jaccard"))
      .filter(col("jaccard") >= minJ)
  }

  /** Components over the plain bucket-pair md5 LSH pipeline — the
    * full-recompute comparator for the incremental and streaming dedup
    * variants (their correctness contract is "identical to this"). */
  def md5PairClusters(docsDf: DataFrame): DataFrame = {
    val pairs = minhashMd5Pairs(docsDf).select(col("i"), col("j"))
    connectedComponents(docsDf.select(col("doc_id")), pairs, "doc_id")
      .orderBy("doc_id")
  }

  /** The md5 pair pipeline over an arbitrary `(doc_id, text)` relation —
    * parameterized (r10) so the promoted `dedup_minhash_mllib` gate can
    * run it on the same bounded input it compares against. */
  def minhashMd5Pairs(docsDf: DataFrame): DataFrame = {
    val bands = md5BandRows(docsDf)
    val cand = bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.h") === col("y.h") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("i"), col("y.doc_id").as("j"))
      .distinct()
    verifyExactJaccard(cand, docsDf, 0.8).orderBy("i", "j")
  }

  /** INCREMENTAL near-dup dedup [N] (r10, VERDICT #3) — the lifecycle
    * leg the family lacked (the dedup analogue of
    * `sim_search_ivf_append`): dedup a DELTA against a SAVED band store
    * without rescanning the historical corpus. The key runs the store's
    * own lifecycle ([[appendSplit]], then [[dedupServeFromStore]]): the
    * base corpus is epoch 0 of a fresh [[EpochStore]], the delta epoch 1,
    * and the serve runs components over every stored pair.
    *
    * Soundness: a doc's band keys are corpus-independent
    * ([[md5BandRows]]), so bucket-join candidates over the union
    * decompose exactly into base×base (epoch 0's pairs) ∪
    * delta-involving (epoch 1's) — the incremental result is IDENTICAL
    * to a full rebuild, which is precisely what the oracle checks: the
    * DuckDB mirror is the full union recompute, so the hash gate proves
    * delta-computed ≡ full. (This is why the pipeline uses plain
    * bucket-pair candidates, not the star/chain form of
    * [[md5ClusterAssign]]: chain adjacency WITHIN a bucket changes when
    * new docs enter it, so the star/chain candidate set does not
    * decompose incrementally.) Store under a per-run UUID dir
    * (FIXTURES.md "Scratch paths"): every run starts from an empty store. */
  private def minhashIncremental(s: SparkSession, d: String): DataFrame = {
    val dir = graft.Scratch.dir(s"dedup_incr_store-${java.util.UUID.randomUUID()}")
    appendSplit(docs(s, d), dir)
    dedupServeFromStore(s, dir)
  }

  /** Build the incremental near-dup store over `docsDf` in `dir` with two
    * [[dedupAppend]]s: epoch 0 holds the first 80% of the doc-id space,
    * epoch 1 the rest. The split derives from max(doc_id), so it means
    * the same at every SF. */
  private[graft] def appendSplit(docsDf: DataFrame, dir: String): Unit = {
    val split = (docsDf.agg(max(col("doc_id"))).head().getLong(0) + 1L) * 4L / 5L
    dedupAppend(docsDf.filter(col("doc_id") < split), dir, 0L)
    dedupAppend(docsDf.filter(col("doc_id") >= split), dir, 1L)
  }

  /** Append one epoch of `(doc_id, text)` docs to an incremental near-dup
    * store — the write half of [[dedupDelta]]. The batch's band rows join
    * the saved bands and, once per pair (`x.doc_id < y.doc_id`), their
    * own; the delta-involving candidates verify at exact Jaccard >= 0.8.
    * The epoch's docs, bands and verified pairs land in `epoch=N`
    * partitions, so a re-delivered batch REWRITES its own partition with
    * identical rows instead of duplicating them — exactly-once state
    * without a transaction log. */
  private[graft] def dedupAppend(batchIn: DataFrame, storeDir: String,
                                 epoch: Long): Unit = {
    val st = EpochStore(batchIn.sparkSession, storeDir).append(epoch)
    val batch = batchIn.select(col("doc_id"), col("text")).cut()
    val savedDocs = st.saved("docs", batch)
    val deltaBands = md5BandRows(batch).cut()
    val savedBands = st.saved("bands", deltaBands).select("doc_id", "band", "h")
    def bucketPairs(y: DataFrame, pair: Column): DataFrame =
      deltaBands.as("x").join(y.as("y"),
        col("x.band") === col("y.band") && col("x.h") === col("y.h") && pair)
    // a replayed epoch's saved side holds this batch's own bands too, so
    // saved pairs come in either orientation
    val cand = bucketPairs(savedBands, col("x.doc_id") =!= col("y.doc_id"))
      .select(least(col("x.doc_id"), col("y.doc_id")).as("i"),
        greatest(col("x.doc_id"), col("y.doc_id")).as("j"))
      .union(bucketPairs(deltaBands, col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("i"), col("y.doc_id").as("j")))
      .distinct()
    // dropDuplicates: on a REPLAYED epoch the saved store already holds
    // this batch's docs — text is identical, so any copy verifies alike
    val allDocs = savedDocs.select("doc_id", "text").union(batch)
      .dropDuplicates("doc_id")
    // materialize BEFORE any store write: on a replayed epoch the saved
    // side still references this epoch's previous files, which the
    // overwrite below deletes — cut the lineage first
    val fresh = verifyExactJaccard(cand, allDocs, 0.8)
      .select(col("i"), col("j")).cut()
    st.write("docs", batch)
    st.write("bands", deltaBands)
    st.write("pairs", fresh)
  }

  /** One STREAMING micro-batch of incremental near-dup dedup — the
    * per-epoch core [[graft.streaming.Streams.epochDeltas]] runs inside
    * `foreachBatch` (r10, VERDICT #3's streaming twin): [[dedupAppend]],
    * then the full cluster assignment over the store as of this epoch
    * ([[dedupServeFromStore]]), which the sink publishes. */
  def dedupDelta(batchIn: DataFrame, storeDir: String, epoch: Long): DataFrame = {
    dedupAppend(batchIn, storeDir, epoch)
    dedupServeFromStore(batchIn.sparkSession, storeDir)
  }

  /** Serve the cluster assignment from a [[dedupDelta]] store:
    * components over every saved pair. */
  def dedupServeFromStore(s: SparkSession, storeDir: String): DataFrame = {
    val st = EpochStore(s, storeDir)
    connectedComponents(st.read("docs").select("doc_id"),
      st.read("pairs").select("i", "j"), "doc_id").orderBy("doc_id")
  }

  /** Connected components as UNROLLED alternating large-star/small-star
    * contraction rounds — the SQL twin of [[connectedComponents]]'s star
    * phase (r12, VERDICT #3). Assumes CTEs `pairs (i, j)` and `nodes (id)`
    * are in scope; emits `e0..e$rounds` plus `lab (id, cluster_id)`
    * labeling every node with its component minimum. Replaces the
    * recursive-CTE transitive closure that ran >2 h on sf0.1's
    * 2.72 M-pair mega-clique graph (PERF.md r11): each round is two
    * groupBy-min + join passes over a SHRINKING edge list, O(log n)
    * rounds suffice on any graph shape, and rounds past the fixpoint
    * are idempotent (the edge set is already a union of stars rooted at
    * component minima), so a generous FIXED budget is safe where SQL
    * cannot loop-until-converged. `pairsRel (i, j)` / `nodesRel (id)`
    * name the inputs; `sfx` suffixes every internal CTE (ending in
    * `lab$sfx`) so one statement can hold several closures. */
  private[ext] def starCcSql(rounds: Int, pairsRel: String = "pairs",
                             nodesRel: String = "nodes",
                             sfx: String = ""): String = {
    val rs = (1 to rounds).map { t =>
      s"""sym$t$sfx AS (SELECT s AS u, t AS v FROM e${t - 1}$sfx
         |          UNION ALL SELECT t, s FROM e${t - 1}$sfx),
         |mn$t$sfx AS MATERIALIZED (
         |  SELECT u, least(u, min(v)) AS m FROM sym$t$sfx GROUP BY u),
         |lg$t$sfx AS MATERIALIZED (
         |  SELECT DISTINCT mm.m AS s, sy.v AS t
         |  FROM sym$t$sfx sy JOIN mn$t$sfx mm ON sy.u = mm.u
         |  WHERE sy.v > sy.u AND mm.m <> sy.v),
         |ori$t$sfx AS (SELECT t AS u, s AS v FROM lg$t$sfx),
         |ms$t$sfx AS MATERIALIZED (
         |  SELECT u, min(v) AS m FROM ori$t$sfx GROUP BY u),
         |e$t$sfx AS MATERIALIZED (
         |  SELECT DISTINCT least(i, j) AS s, greatest(i, j) AS t FROM (
         |    SELECT u AS i, m AS j FROM ms$t$sfx
         |    UNION ALL
         |    SELECT o.v AS i, ms$t$sfx.m AS j FROM ori$t$sfx o
         |      JOIN ms$t$sfx ON o.u = ms$t$sfx.u WHERE o.v <> ms$t$sfx.m)
         |  WHERE i <> j)""".stripMargin
    }.mkString(",\n")
    s"""e0$sfx AS MATERIALIZED (
       |  SELECT DISTINCT least(i, j) AS s, greatest(i, j) AS t
       |  FROM $pairsRel WHERE i <> j),
       |$rs,
       |conv$sfx AS (
       |  SELECT CASE WHEN (
       |      SELECT count(*) FROM (
       |        (SELECT s, t FROM e$rounds$sfx
       |         EXCEPT SELECT s, t FROM e${rounds - 1}$sfx)
       |        UNION ALL
       |        (SELECT s, t FROM e${rounds - 1}$sfx
       |         EXCEPT SELECT s, t FROM e$rounds$sfx)) d) = 0
       |    THEN 1
       |    ELSE CAST(error('starCc$sfx did not converge in $rounds rounds')
       |              AS INT) END AS ok),
       |nbmin$sfx AS MATERIALIZED (
       |  SELECT n, min(nb) AS mn FROM (
       |    SELECT s AS n, t AS nb FROM e$rounds$sfx
       |    UNION ALL SELECT t, s FROM e$rounds$sfx) GROUP BY n),
       |lab$sfx AS (
       |  SELECT $nodesRel.id,
       |         least($nodesRel.id, coalesce(nbmin$sfx.mn, $nodesRel.id))
       |           AS cluster_id
       |  FROM $nodesRel LEFT JOIN nbmin$sfx ON $nodesRel.id = nbmin$sfx.n
       |  WHERE (SELECT ok FROM conv$sfx) = 1)""".stripMargin
  }

  /** Star-round budget for [[starCcSql]]: near-dup graphs at the pinned
    * SFs converge in a handful of rounds (cliques in ~2, the measured
    * worst chains well under 2^12 hops); extra rounds are idempotent
    * no-ops over an already-star edge list. Convergence within the
    * budget is ASSERTED, not assumed (ADVICE r12): the emitted `conv`
    * CTE raises DuckDB `error()` if the last two rounds' edge sets
    * differ — a graph needing more rounds fails LOUDLY instead of
    * silently labeling components wrongly (so the effective contraction
    * budget is rounds-1, with the final round doubling as the fixpoint
    * witness). */
  private[ext] val StarCcRounds = 12

  /** Epoch-store compaction under the correctness gate [N] (r13 VERDICT
    * #5 — the `sink_compact_files` precedent says maintenance
    * operations earn oracle keys): build the incremental-dedup band
    * store across TWO delta epochs ([[appendSplit]]), fold it to the
    * `epoch=-1` baseline
    * ([[graft.pipeline.StoreCompact.compactDedupStore]] — lease,
    * staged commit, crash recovery), and SERVE components from the
    * compacted store. Compaction must be invisible to the reader, so
    * the oracle is the same FULL-UNION recompute that certifies
    * [[minhashIncremental]]: hash equality proves the
    * delta-built-then-compacted store serves exactly the from-scratch
    * clustering — nothing lost, duplicated, or reordered by the swap. */
  private def sinkStoreCompact(s: SparkSession, d: String): DataFrame = {
    // fresh store per run: a retry must rebuild, not re-append onto the
    // already-compacted baseline (FIXTURES.md "Scratch paths")
    val dir = graft.Scratch.dir(s"store_compact-${java.util.UUID.randomUUID()}")
    appendSplit(docs(s, d), dir)
    graft.pipeline.StoreCompact.compactDedupStore(s, dir)
    // the reader's serve, now over single-baseline sub-tables
    dedupServeFromStore(s, dir)
  }

  /** Oracle for [[minhashIncremental]]: the FULL-UNION recompute (16
    * min-md5 slots, 4 band keys, plain bucket-pair candidates, exact
    * Jaccard >= 0.8, unrolled star-contraction components) — hash
    * equality proves the delta-computed clusters are identical to a
    * full rebuild. */
  private def minhashIncrementalOracle: String = {
    val k = NumHashes; val b = NumBands; val r = k / b
    val slots = (0 until k).map(md5SlotSql).mkString(",\n         ")
    val bandRows = (0 until b).map { bi =>
      val key = (0 until r).map(ri => s"m${bi * r + ri}").mkString(" || '|' || ")
      s"SELECT doc_id, $bi AS band, md5($key) AS h FROM sig"
    }.mkString("\n  UNION ALL ")
    s"""WITH w AS (
       |  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS w
       |  FROM documents),
       |wh AS (
       |  $md5WordHashesSql),
       |sig AS (
       |  SELECT doc_id,
       |         $slots
       |  FROM wh GROUP BY doc_id),
       |bands AS (
       |  $bandRows),
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS i, y.doc_id AS j
       |  FROM bands x JOIN bands y
       |    ON x.band = y.band AND x.h = y.h AND x.doc_id < y.doc_id),
       |$wordIdsCteSql,
       |cnt AS (SELECT doc_id, count(*) AS n FROM ids GROUP BY 1),
       |inter AS (
       |  SELECT c.i, c.j, count(*) AS c
       |  FROM cand c
       |  JOIN ids a ON a.doc_id = c.i
       |  JOIN ids b ON b.doc_id = c.j AND a.id = b.id
       |  GROUP BY 1, 2),
       |pairs AS MATERIALIZED (
       |  SELECT i, j FROM inter
       |  JOIN cnt na ON i = na.doc_id JOIN cnt nb ON j = nb.doc_id
       |  WHERE c * 1.0 / (na.n + nb.n - c) >= 0.8),
       |nodes AS (SELECT doc_id AS id FROM documents),
       |${starCcSql(StarCcRounds)}
       |SELECT id AS doc_id, cluster_id
       |FROM lab ORDER BY doc_id""".stripMargin
  }

  /** Oracle SQL for [[minhashMd5]], generated to mirror the banding
    * structure exactly (16 chunked min-md5 slots, 4 band keys). */
  private def minhashMd5Oracle: String = {
    val k = NumHashes; val b = NumBands; val r = k / b
    val slots = (0 until k).map(md5SlotSql).mkString(",\n         ")
    val bandRows = (0 until b).map { bi =>
      val key = (0 until r).map(ri => s"m${bi * r + ri}").mkString(" || '|' || ")
      s"SELECT doc_id, $bi AS band, md5($key) AS h FROM sig"
    }.mkString("\n  UNION ALL ")
    s"""WITH w AS (
       |  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS w
       |  FROM documents),
       |wh AS (
       |  $md5WordHashesSql),
       |sig AS (
       |  SELECT doc_id,
       |         $slots
       |  FROM wh GROUP BY doc_id),
       |bands AS (
       |  $bandRows),
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS i, y.doc_id AS j
       |  FROM bands x JOIN bands y
       |    ON x.band = y.band AND x.h = y.h AND x.doc_id < y.doc_id),
       |$wordIdsCteSql,
       |cnt AS (SELECT doc_id, count(*) AS n FROM ids GROUP BY 1),
       |inter AS (
       |  SELECT c.i, c.j, count(*) AS c
       |  FROM cand c
       |  JOIN ids a ON a.doc_id = c.i
       |  JOIN ids b ON b.doc_id = c.j AND a.id = b.id
       |  GROUP BY 1, 2)
       |SELECT i, j, c * 1.0 / (na.n + nb.n - c) AS jaccard
       |FROM inter JOIN cnt na ON i = na.doc_id JOIN cnt nb ON j = nb.doc_id
       |WHERE c * 1.0 / (na.n + nb.n - c) >= 0.8
       |ORDER BY i, j""".stripMargin
  }

  /** [[minhashClusters]]'s fully oracle-checkable twin (the r4 analogue
    * of what `dedup_minhash_md5` is to `minhashPairs`): the ENTIRE
    * cluster pipeline — md5 MinHash signatures, banding, per-bucket
    * star + signature-ordered chain + skip-2 candidates, exact-Jaccard
    * verify, min-label connected components — where every hash is md5 and
    * every step has a bit-exact DuckDB mirror (bucket windows via
    * lag/min-over, closure via a recursive CTE). Output: one
    * (doc_id, cluster_id) row per document, cluster_id = min doc id of
    * the component. No word-set collapse here: set-identical docs share
    * every bucket with their representative and verify at J=1, so the
    * component structure is identical and the SQL stays one CTE shorter. */
  private def clustersMd5(s: SparkSession, d: String): DataFrame =
    md5ClusterAssign(docs(s, d)).orderBy("doc_id")

  /** The full md5 cluster pipeline over an arbitrary `(doc_id, text)`
    * relation — extracted so other chains (the corpus cleaning
    * pipeline's near-dup stage) can splice it in; the SQL mirror is
    * [[md5ClusterChainSql]] with the same input parameterization. */
  def md5ClusterAssign(docsDf: DataFrame): DataFrame =
    connectedComponents(docsDf.select(col("doc_id")),
      md5StarChainPairs(docsDf), "doc_id")

  /** The twin pipeline up to (and including) the exact-Jaccard verify —
    * the star/chain candidate discipline's VERIFIED EDGE SET, without
    * the component fixpoint. Factored out (r10) so the promoted
    * `dedup_minhash` gate can band on edge-touched docs without paying
    * the twin's CC rounds. */
  def md5StarChainPairs(docsDf: DataFrame): DataFrame = {
    val cand = starChainCandidates(md5SlotBandRows(docsDf))
      .select(col("i"), col("j")).distinct()
    // shared verify: id-count gate (pure necessary condition for
    // J >= 0.8, so the gateless oracle still matches exactly) + the
    // codegen two-pointer intersect over sorted 60-bit word ids
    verifyExactJaccard(cand, docsDf, 0.8)
      .select(col("i"), col("j"))
      .cut()
  }

  /** The md5 twin's band rows WITH signature slots
    * `(doc_id, band, h, m0..m15)` — the slots ride along because
    * [[starChainCandidates]]' bucket window orders by the FULL
    * signature (the slot-free [[md5BandRows]] serves the plain-pair
    * incremental store). Factored out (r13) so the incremental
    * multimodal pipeline can persist band rows per epoch and re-derive
    * candidates for touched buckets only. Corpus-independent: a doc's
    * band rows never change as the corpus grows. */
  def md5SlotBandRows(docsDf: DataFrame): DataFrame = {
    val k = NumHashes; val b = NumBands; val r = k / b
    val sigCols = (0 until k).map(md5SlotAgg)
    val sig = md5WordHashCols(wordRows(docsDf))
      .groupBy(col("doc_id")).agg(sigCols.head, sigCols.tail: _*)
    val slotCols = (0 until k).map(i => col(s"m$i"))
    val bandStructs = (0 until b).map { bi =>
      val slots = (0 until r).map(ri => col(s"m${bi * r + ri}"))
      struct(lit(bi).as("band"), md5(concat_ws("|", slots: _*)).as("h"))
    }
    sig.select(
        (Seq(col("doc_id")) ++ slotCols :+ explode(array(bandStructs: _*)).as("bh")): _*)
      .select((Seq(col("doc_id"), col("bh.band").as("band"), col("bh.h").as("h"))
        ++ slotCols): _*)
  }

  /** Star + chain + skip-2 candidates WITHIN each `(band, h)` bucket of
    * the given band rows, bucket key kept: `(band, h, i, j)`. A
    * bucket's candidate set depends only on its own full membership, so
    * the incremental form recomputes exactly the buckets an epoch
    * touches (latest recomputation supersedes — the membership only
    * grows, so the last touch saw everything). */
  def starChainCandidates(bands: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val slotCols = (0 until NumHashes).map(i => col(s"m$i"))
    val bucket = Window.partitionBy(col("band"), col("h"))
    val ord = bucket.orderBy((slotCols :+ col("doc_id")).map(_.asc): _*)
    val annotated = bands.select(col("doc_id"), col("band"), col("h"),
      lag(col("doc_id"), 1).over(ord).as("prev"),
      lag(col("doc_id"), 2).over(ord).as("prev2"),
      min(col("doc_id")).over(bucket).as("bmin"))
    // r15 note: an explode-over-candidate-array form (one window pass
    // instead of the 3-way union's three references) was tried here and
    // MEASURED SLOWER end-to-end (corpus_clean_pipeline 5.4 -> 6.5 s,
    // dedup_minhash 6.8 -> 7.9 s mini-bench; oracle-identical) — the
    // union's branches reuse the window exchange, and the explode's
    // cardinality estimate degraded the downstream verify join order.
    // Kept as the union; revisit only with a measured win.
    val stars = annotated.filter(col("doc_id") =!= col("bmin"))
      .select(col("band"), col("h"), col("bmin").as("i"), col("doc_id").as("j"))
    def undirected(a: Column) =
      annotated.filter(a.isNotNull && a =!= col("doc_id"))
        .select(col("band"), col("h"),
          least(a, col("doc_id")).as("i"), greatest(a, col("doc_id")).as("j"))
    stars.union(undirected(col("prev"))).union(undirected(col("prev2")))
      .filter(col("i") =!= col("j")).distinct()
  }

  /** Generated oracle for [[clustersMd5]]: the same 16 chunked min-md5 slots and
    * 4 band keys as [[minhashMd5Oracle]], the bucket star/chain/skip-2
    * candidates via SQL windows (lag over the full-signature order,
    * min-over for the star center), the exact-Jaccard verify, and the
    * components via the unrolled star contraction. Generated, not
    * hand-written, so the banding and window order cannot drift from
    * the Spark side. */
  /** The md5 cluster chain as a reusable CTE-list FRAGMENT over an
    * arbitrary `(doc_id, <textCol>)` relation — ends with a `clusters`
    * CTE of (doc_id, cluster_id). Callers prepend `WITH` and their own
    * CTEs, and select from `clusters`. Mirrors [[md5ClusterAssign]]
    * statement for statement. The component step rides [[starCcSql]]
    * (ADVICE r12: the recursive-CTE reach this replaced is the
    * construct that ran >2 h on sf0.1's mega-clique pair graph in the
    * plain-minhash twin — the star/chain candidates here keep the pair
    * set linear, but the closure should not carry the same latent wall
    * at larger SFs). */
  def md5ClusterChainSql(inputRel: String, textCol: String): String = {
    val k = NumHashes; val b = NumBands; val r = k / b
    val slots = (0 until k).map(md5SlotSql).mkString(",\n         ")
    val slotList = (0 until k).map(i => s"m$i").mkString(", ")
    val bandRows = (0 until b).map { bi =>
      val key = (0 until r).map(ri => s"m${bi * r + ri}").mkString(" || '|' || ")
      s"SELECT doc_id, $slotList, $bi AS band, md5($key) AS h FROM sig"
    }.mkString("\n  UNION ALL ")
    s"""w AS (
       |  SELECT doc_id, unnest(list_distinct(string_split($textCol, ' '))) AS w
       |  FROM $inputRel),
       |wh AS (
       |  $md5WordHashesSql),
       |sig AS (
       |  SELECT doc_id,
       |         $slots
       |  FROM wh GROUP BY doc_id),
       |bands AS (
       |  $bandRows),
       |ann AS (
       |  SELECT doc_id, band, h,
       |         lag(doc_id, 1) OVER win AS prev,
       |         lag(doc_id, 2) OVER win AS prev2,
       |         min(doc_id) OVER (PARTITION BY band, h) AS bmin
       |  FROM bands
       |  WINDOW win AS (PARTITION BY band, h ORDER BY $slotList, doc_id)),
       |cand AS (
       |  SELECT DISTINCT i, j FROM (
       |    SELECT bmin AS i, doc_id AS j FROM ann WHERE doc_id <> bmin
       |    UNION ALL
       |    SELECT least(prev, doc_id), greatest(prev, doc_id) FROM ann
       |    WHERE prev IS NOT NULL AND prev <> doc_id
       |    UNION ALL
       |    SELECT least(prev2, doc_id), greatest(prev2, doc_id) FROM ann
       |    WHERE prev2 IS NOT NULL AND prev2 <> doc_id)
       |  WHERE i <> j),
       |$wordIdsCteSql,
       |cnt AS (SELECT doc_id, count(*) AS n FROM ids GROUP BY 1),
       |inter AS (
       |  SELECT c.i, c.j, count(*) AS c
       |  FROM cand c
       |  JOIN ids a ON a.doc_id = c.i
       |  JOIN ids b ON b.doc_id = c.j AND a.id = b.id
       |  GROUP BY 1, 2),
       |pairs AS MATERIALIZED (
       |  SELECT i, j FROM inter
       |  JOIN cnt na ON i = na.doc_id JOIN cnt nb ON j = nb.doc_id
       |  WHERE c * 1.0 / (na.n + nb.n - c) >= 0.8),
       |nodes AS (SELECT doc_id AS id FROM $inputRel),
       |${starCcSql(StarCcRounds)},
       |clusters AS (
       |  SELECT id AS doc_id, cluster_id FROM lab)""".stripMargin
  }

  private def clustersMd5Oracle: String =
    s"""WITH ${md5ClusterChainSql("documents", "text")}
       |SELECT doc_id, cluster_id FROM clusters ORDER BY doc_id""".stripMargin

  /** Connected components over a near-dup pair graph — the step BETWEEN
    * pair generation (minhash/simhash/ngram) and representative selection
    * ([[Corpus.keepBest]]): every node gets a `cluster_id`, the minimum
    * node id of its component (isolated nodes label themselves). Every
    * edge endpoint must be an id of `nodes`. Exact on every graph shape,
    * by one of two paths with the same rows and schema: union-find in
    * the driver when the graph is broadcast-sized, else distributed
    * rounds. See [[connectedComponentsWithRounds]] for both, and for the
    * one failure it reports instead of a partial answer. */
  def connectedComponents(nodes: DataFrame, edges: DataFrame,
                          idCol: String = "id", iCol: String = "i",
                          jCol: String = "j"): DataFrame =
    connectedComponentsWithRounds(nodes, edges, idCol, iCol, jCol)._1

  /** Min-label round budget. Near-dup graphs are dense and shallow (2-6
    * rounds at the pinned SFs); a deeper graph is finished by star
    * contraction rather than by O(diameter) more rounds. */
  private val LabelRounds = 25
  /** Star pair-round budget: large-star/small-star needs O(log n) pairs on
    * any shape (a 64-node path takes a handful). */
  private val StarRounds = 50

  /** [[connectedComponents]] plus the rounds each phase ran:
    * `(labels, labelRounds, starRounds)`.
    *
    * The driver-local path: when the edges (i, j) and then the node ids
    * pass [[DriverRounds.collectBounded]] (each at most
    * `spark.sql.autoBroadcastJoinThreshold` by Spark's size estimate; a
    * negative threshold turns the path off without a job), the ids are
    * integral and non-null and every endpoint is a node id,
    * [[DriverRounds.components]] runs union-find over the collected ids
    * and returns a LocalRelation with the distributed result's rows and
    * schema. It reports `(labels, 0, 0)`: zero rounds means the local path
    * ran, as the distributed rounds always run at least one. Otherwise
    * the distributed rounds below run, unchanged — the 100 TB path.
    *
    * Phase 1, min-label propagation: iterate
    * `label := min(label, min(neighbor labels))` for at most
    * [[LabelRounds]] rounds. Each round is one equi-join + one hash-agg
    * on the symmetric edge list, and [[graft.Ckpt.cut]] cuts the growing
    * lineage (reliable checkpoints under `graft.checkpoint.dir`:
    * CheckpointModeSpec pins both modes bit-identical). ONE Spark action
    * per round: the changed-label count is a named `observe()` metric,
    * read synchronously off the executed plan of the cut that materializes
    * the round's labels.
    *
    * Phase 2, only if phase 1 ran out of rounds: contract the graph by the
    * current labels — edge (i, j) becomes (L(i), L(j)), self-loops
    * dropped — and finish it with alternating LARGE-STAR / SMALL-STAR
    * rounds (Kiveris et al., "Connected Components in MapReduce and
    * Beyond"), which converge in O(log n) rounds regardless of diameter;
    * each node is then relabeled by its label's root. This is exact:
    * every label L(v) ≤ v is the id of a node in v's component, and the
    * component's minimum keeps its own label, so the root of each
    * contracted component is the minimum id of the original one.
    *
    * @throws IllegalStateException if the star phase is still changing
    *   after [[StarRounds]] pair-rounds; labels are only ever returned
    *   from a converged phase. */
  private[graft] def connectedComponentsWithRounds(nodes: DataFrame,
      edges: DataFrame, idCol: String = "id", iCol: String = "i",
      jCol: String = "j"): (DataFrame, Int, Int) = {
    val sym = edges.select(col(iCol).as("src"), col(jCol).as("dst"))
      .union(edges.select(col(jCol).as("src"), col(iCol).as("dst")))
    var labels = nodes.select(col(idCol).as("id"), col(idCol).as("label"))
    // The UNION form: `min over ({own label} ∪ incoming neighbor labels)
    // per id` — one exchange per side instead of join + agg + left-join
    // back. Nodes with no incoming edge keep their own-label row through
    // the union, and the pre-round label rides the same agg (max over the
    // own-flagged rows — labels is unique per id) to observe the change.
    def round(labels: DataFrame): DataFrame = {
      val nbr = sym.join(labels, col("dst") === col("id"))
        .select(col("src").as("id"), col("label"), lit(0L).as("own"))
      labels.select(col("id"), col("label"), lit(1L).as("own"))
        .unionAll(nbr)
        .groupBy(col("id"))
        .agg(min(col("label")).as("nl"),
          max(when(col("own") === 1L, col("label"))).as("ol"))
    }
    // the result's schema, read off one unexecuted round: the id type and
    // nullability the union widens to, and min's nullable label
    val schema = round(labels).select(col("id").as(idCol), col("nl").as("cluster_id")).schema
    DriverRounds.components(nodes.sparkSession, nodes.select(col(idCol)),
        edges.select(col(iCol), col(jCol)), schema) match {
      case Some(local) => return (local, 0, 0)
      case None => // the distributed rounds
    }
    var converged = false
    var iter = 0
    while (!converged && iter < LabelRounds) {
      val observed = round(labels)
        .select(col("id"), col("nl").as("label"),
          (col("nl") =!= col("ol")).cast("long").as("chg"))
        .observe("cc_changed", sum(col("chg")).as("changed"))
        .select(col("id"), col("label"))
      val updated = observed.cut()
      // the cut is a Dataset action over `observed`'s own executed plan, so
      // its CollectMetrics accumulator is final once cut() returns; a
      // reliable checkpoint may recompute the round and count a change
      // twice, which leaves the `== 0` test below exact
      val changed: Long = observed.queryExecution.observedMetrics.get("cc_changed") match {
        case Some(row) => if (row.isNullAt(0)) 0L else row.getLong(0) // null = sum over zero rows
        case None => throw new IllegalStateException(
          s"graft.connectedComponents: no change count observed at round $iter")
      }
      labels = updated
      converged = changed == 0
      iter += 1
    }
    val (exact, starRounds) =
      if (converged) (labels, 0)
      else {
        def labelOf(end: String) =
          labels.select(col("id").as(end), col("label").as(s"l$end"))
        val contracted = edges.select(col(iCol).as("a"), col(jCol).as("b"))
          .join(labelOf("a"), "a").join(labelOf("b"), "b")
        val (roots, rounds) = starForest(contracted, "la", "lb")
        (labels.join(roots, col("label") === col("n"), "left")
          .select(col("id"), coalesce(col("root"), col("label")).as("label")),
          rounds)
      }
    (exact.select(col("id").as(idCol), col("label").as("cluster_id")),
      iter, starRounds)
  }

  /** Large-star/small-star rounds to a star forest rooted at component
    * minima: returns `(n, root)` for every node of `edges` that is not a
    * root, and the pair-rounds run.
    *
    *  - large-star: every edge (a, b), a < b, is rewritten to
    *    (m(a), b) where m(a) = min(Γ(a) ∪ {a}) — big endpoints hook
    *    directly onto their neighborhood minimum;
    *  - small-star: every node links its smaller neighbors (and itself)
    *    to its minimum smaller neighbor.
    *
    * Both are one groupBy-min + one equi-join over the edge list — the
    * shuffle shape of a min-label round. Fixpoint = the pair left the
    * edge set unchanged (edge count + set-difference emptiness over the
    * cut edge lists). */
  private def starForest(edges: DataFrame, iCol: String, jCol: String)
      : (DataFrame, Int) = {
    def canon(df: DataFrame, a: String, b: String): DataFrame =
      df.select(least(col(a), col(b)).as("s"), greatest(col(a), col(b)).as("t"))
        .filter(col("s") =!= col("t")).distinct()
    var e = canon(edges, iCol, jCol).cut()
    var rounds = 0
    var done = e.isEmpty
    while (!done) {
      if (rounds == StarRounds)
        throw new IllegalStateException("connectedComponents: star " +
          s"contraction still changing after $StarRounds pair-rounds")
      // large-star: for each edge (a, b) a < b -> (min(Γ(a) ∪ {a}), b)
      val sym = e.select(col("s").as("u"), col("t").as("v"))
        .union(e.select(col("t").as("u"), col("s").as("v")))
      val mins = sym.groupBy(col("u"))
        .agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("m"))
      val large = canon(
        sym.filter(col("v") > col("u")).join(mins, Seq("u"))
          .select(col("m").as("i"), col("v").as("j")), "i", "j")
        .cut()
      // small-star: orient every edge big->small, link each node's
      // smaller neighbors (and itself) to its min smaller neighbor
      val oriented = large.select(col("t").as("u"), col("s").as("v"))
      val minsS = oriented.groupBy(col("u")).agg(min(col("v")).as("m"))
      val small = canon(
        minsS.select(col("u").as("i"), col("m").as("j"))
          .union(oriented.join(minsS, Seq("u"))
            .filter(col("v") =!= col("m"))
            .select(col("v").as("i"), col("m").as("j"))), "i", "j")
        .cut()
      done = small.count() == e.count() && small.except(e).isEmpty
      e = small
      rounds += 1
    }
    // in a star forest every edge is (root, leaf): a leaf's one
    // neighbor is its root
    (e.select(col("t").as("n"), col("s").as("root")), rounds)
  }

  /** Query key: components of the oracle-checked exact ngram-Jaccard pair
    * graph (bounded probe set), every doc in the set labeled. The oracle
    * mirrors it with a recursive transitive-closure CTE + min per node. */
  private def clusters(s: SparkSession, d: String): DataFrame = {
    val bounded = docs(s, d).filter(col("doc_id") < 150)
    val pairs = ngramJaccard(s, d).select(col("i"), col("j"))
    connectedComponents(bounded.select(col("doc_id")), pairs, "doc_id")
      .groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("cluster_size"),
        sort_array(collect_list(col("doc_id"))).as("ms"))
      .select(col("cluster_id"), col("cluster_size"),
        // stringified member list: array-typed output columns break the
        // driver's pandas compare, and the string is directly readable
        array_join(transform(col("ms"), m => m.cast("string")), ",").as("members"))
      .orderBy("cluster_id")
  }

  /** The full dedup chain as ONE operator: near-dup pairs →
    * [[connectedComponents]] → representative per cluster (longest doc,
    * tie → lowest id — the same rule as [[Corpus.keepBest]], but over
    * SIMILARITY clusters instead of exact-fingerprint groups). Output is
    * what a training pipeline actually consumes: one surviving doc per
    * near-dup cluster. */
  private def clusterBest(s: SparkSession, d: String): DataFrame = {
    val bounded = docs(s, d).filter(col("doc_id") < 150)
    val pairs = ngramJaccard(s, d).select(col("i"), col("j"))
    val labels = connectedComponents(bounded.select(col("doc_id")), pairs, "doc_id")
    labels.join(bounded.select(col("doc_id"), col("n_chars")), Seq("doc_id"))
      .groupBy(col("cluster_id"))
      .agg(
        max(struct(col("n_chars").as("len"), (-col("doc_id")).as("neg"))).as("best"),
        count(lit(1)).as("cluster_size"))
      .select(col("cluster_id"), (-col("best.neg")).as("rep_id"),
        col("best.len").as("rep_chars"), col("cluster_size"))
      .orderBy("cluster_id")
  }

  /** The same near-dup problem through MLlib's `MinHashLSH` (HashingTF
    * term vectors → seeded hash tables → approxSimilarityJoin), as the
    * library-integration alternative to the hand-rolled signature
    * pipeline above. Deterministic via setSeed. */
  def minhashMllibPairs(boundedDocs: DataFrame): DataFrame = {
    import org.apache.spark.ml.feature.{HashingTF, MinHashLSH}
    val bounded = boundedDocs
      .select(col("doc_id"), split(col("text"), " ").as("words"))
    val featurized = new HashingTF()
      .setInputCol("words").setOutputCol("features").setNumFeatures(1 << 16)
      .transform(bounded)
    val model = new MinHashLSH()
      .setInputCol("features").setOutputCol("hashes")
      .setNumHashTables(4).setSeed(42)
      .fit(featurized)
    model.approxSimilarityJoin(featurized, featurized, 0.2, "jaccard_dist")
      .select(col("datasetA.doc_id").as("i"), col("datasetB.doc_id").as("j"),
        bround(lit(1.0) - col("jaccard_dist"), 6).as("similarity"))
      .filter(col("i") < col("j"))
      .orderBy("i", "j")
  }

  /** MLlib MinHashLSH cross-check promoted to a DRIVER-VISIBLE oracle
    * row (r10, VERDICT #1; previously rows-only — MLlib's seeded hashes
    * have no DuckDB mirror). The registered output is the invariant view
    * over the deterministic recall anchors: one row per identical-word-SET
    * doc pair (exactly computable by DuckDB), each carrying
    *
    *  - `found_ok`: the pair is in [[minhashMllibPairs]]'s output —
    *    deterministically true (identical distinct-word sets hash to the
    *    same HashingTF indices, so the vectors are bucket-identical in
    *    every hash table and their exact Jaccard distance is 0 ≤ 0.2);
    *  - `sim1_ok`: its emitted similarity is exactly 1.0;
    *  - `band_ok` (global): the MLlib pair count is within [0.85, 1.25]×
    *    of the INDEPENDENT [[minhashMd5Pairs]] count on the same bounded
    *    input (both verify exact J ≥ 0.8; the spaces differ only by
    *    HashingTF index collisions and LSH candidate recall — measured
    *    ratio 1.048–1.067 across sf0.001/0.01/0.1). */
  private def minhashMllib(s: SparkSession, d: String): DataFrame = {
    val bounded = docs(s, d).filter(col("doc_id") < 500)
    val pairs = minhashMllibPairs(bounded)
    val keyed = bounded.select(col("doc_id"), wordSetKey.as("wk"))
    val anchors = keyed.as("a").join(keyed.as("b"),
        col("a.wk") === col("b.wk") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("i"), col("b.doc_id").as("j"))
    val band = pairs.agg(count(lit(1)).as("n_m"))
      .crossJoin(minhashMd5Pairs(bounded).agg(count(lit(1)).as("n_md5")))
      .select((col("n_m") * 100 >= col("n_md5") * 85 &&
        col("n_m") * 100 <= col("n_md5") * 125).as("band_ok"))
    anchors.join(pairs, Seq("i", "j"), "left")
      .select(col("i"), col("j"),
        col("similarity").isNotNull.as("found_ok"),
        coalesce(col("similarity") === 1.0, lit(false)).as("sim1_ok"))
      .crossJoin(broadcast(band))
      .orderBy("i", "j")
  }

  /** 64-bit SimHash per doc (sign-of-weighted-bit-sums over word hashes).
    * One xxhash64 per word, folded by the single-pass custom Catalyst
    * aggregate [[graft.functions.SimHashAgg]] (one 64-int buffer update
    * per word, map-side partials — replaces 64 separate bit-test
    * aggregate slots), banded into 4×16-bit buckets with a length
    * block; near-dup pairs at hamming <= 8. */
  def simhashPairs64(docsDf: DataFrame): DataFrame = {
    val wh = docsDf
      .select(col("doc_id"), col("n_chars"),
        explode(array_distinct(split(col("text"), " "))).as("w"))
      .withColumn("h", xxhash64(col("w")))
    val sig = wh.groupBy(col("doc_id"), col("n_chars"))
      .agg(graft.functions.VectorFunctions.simhash(col("h")).as("simhash"))
      .select(col("doc_id"), col("n_chars"), col("simhash"))
    val bands = sig.select(col("doc_id"), col("simhash"),
      // length block alongside the 16-bit band: near-dups have near lengths
      (col("n_chars") / 50).cast("int").as("lenb"),
      explode(array((0 until 4).map(b =>
        struct(lit(b).as("band"),
          expr(s"shiftright(simhash, ${b * 16}) & 65535").as("h"))): _*)).as("bh"))
      .select(col("doc_id"), col("simhash"), col("lenb"),
        col("bh.band").as("band"), col("bh.h").as("h"))
    bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.h") === col("y.h") &&
          col("x.lenb") === col("y.lenb") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("i"), col("y.doc_id").as("j"),
        expr("bit_count(x.simhash ^ y.simhash)").as("hamming"))
      .distinct()
      .filter(col("hamming") <= 8)
      .orderBy("i", "j")
  }

  /** 64-bit SimHash near-dup gate — [[simhashPairs64]] promoted to a
    * DRIVER-VISIBLE oracle row (r10, VERDICT #1; previously rows-only).
    * The registered output is one row per deterministic recall anchor —
    * an identical-word-SET doc pair in the SAME n_chars/50 length block
    * (both conditions exactly computable by DuckDB) — carrying
    *
    *  - `found_ok`: the pair is in the xx pair set — deterministically
    *    true (identical distinct-word sets give identical per-word
    *    xxhash64 streams, hence identical signatures, hence equality in
    *    every band bucket; the length block matches by construction);
    *  - `ham0_ok`: its emitted hamming distance is exactly 0;
    *  - `band_ok` (global): the xx pair count (64-bit bands, ≤8/64
    *    threshold) is within [0.25, 1.25]× of the INDEPENDENT
    *    [[simhashMd5Pairs]] count (60-bit, ≤8/60). BOTH bounds are
    *    statistical, not structural — the two pipelines hash with
    *    independent functions, so ≤8/64 under xxhash64 neither implies
    *    nor is implied by ≤8/60 under md5 for the same pair (the 60-bit
    *    threshold being fractionally looser only shifts the EXPECTED
    *    ratio below 1, measured 0.46–0.54 across sf0.001/0.01/0.1); the
    *    upper bound sits at 1.25× so a distribution shift cannot
    *    spuriously fail the gate (recalibration note at the
    *    `dedup_minhash` band). */
  private def simhash(s: SparkSession, d: String): DataFrame = {
    val docsDf = docs(s, d)
    val xx = simhashPairs64(docsDf)
    val keyed = docsDf.select(col("doc_id"), wordSetKey.as("wk"),
      (col("n_chars") / 50).cast("int").as("lenb"))
    val anchors = keyed.as("a").join(keyed.as("b"),
        col("a.wk") === col("b.wk") && col("a.lenb") === col("b.lenb") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("i"), col("b.doc_id").as("j"))
    val band = xx.agg(count(lit(1)).as("n_xx"))
      .crossJoin(simhashMd5Pairs(docsDf).agg(count(lit(1)).as("n_md5")))
      .select((col("n_xx") * 4 >= col("n_md5") &&
        col("n_xx") * 4 <= col("n_md5") * 5).as("band_ok"))
    anchors.join(xx, Seq("i", "j"), "left")
      .select(col("i"), col("j"),
        col("hamming").isNotNull.as("found_ok"),
        coalesce(col("hamming") === 0, lit(false)).as("ham0_ok"))
      .crossJoin(broadcast(band))
      .orderBy("i", "j")
  }

  /** [[simhashPairs64]]'s fully oracle-checkable twin: a 60-bit SimHash
    * whose per-word hash is the first 15 hex chars of md5 (60 bits — fits
    * signed BIGINT in both engines; Spark parses with `conv`, the oracle
    * with an explicit hex-digit polynomial since DuckDB lacks conv).
    * Same banding as the 64-bit variant: 4×15-bit bands + n_chars/50
    * length block, pairs at hamming <= 8. Exists so the near-dup pair
    * set gets a hash_match row; the xxhash64 variant stays the perf path. */
  private def simhashMd5(s: SparkSession, d: String): DataFrame =
    simhashMd5Pairs(docs(s, d))

  /** The 60-bit md5 SimHash pair pipeline over an arbitrary
    * `(doc_id, n_chars, text)` relation — parameterized (r10) so the
    * promoted `dedup_simhash` gate can compare against it in-query. */
  def simhashMd5Pairs(docsDf: DataFrame): DataFrame = {
    val Bits = 60
    val wh = docsDf
      .select(col("doc_id"), col("n_chars"),
        explode(array_distinct(split(col("text"), " "))).as("w"))
      .withColumn("h",
        graft.functions.VectorFunctions.hex_long(md5(col("w")), 1, 15))
    val bitSums = (0 until Bits).map(b =>
      sum(shiftright(col("h"), b).bitwiseAND(1) * 2 - 1).as(s"s$b"))
    val sums = wh.groupBy(col("doc_id"), col("n_chars"))
      .agg(bitSums.head, bitSums.tail: _*)
    val simhashVal = (0 until Bits).map(b =>
      when(col(s"s$b") > 0, lit(1L << b)).otherwise(lit(0L))).reduce(_ + _)
    val sig = sums.select(col("doc_id"), col("n_chars"), simhashVal.as("simhash"))
    val bands = sig.select(col("doc_id"), col("simhash"),
      (col("n_chars") / 50).cast("int").as("lenb"),
      explode(array((0 until 4).map(b =>
        struct(lit(b).as("band"),
          expr(s"shiftright(simhash, ${b * 15}) & 32767").as("h"))): _*)).as("bh"))
      .select(col("doc_id"), col("simhash"), col("lenb"),
        col("bh.band").as("band"), col("bh.h").as("h"))
    bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.h") === col("y.h") &&
          col("x.lenb") === col("y.lenb") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("i"), col("y.doc_id").as("j"),
        expr("bit_count(x.simhash ^ y.simhash)").as("hamming"))
      .distinct()
      .filter(col("hamming") <= 8)
      .orderBy("i", "j")
  }

  /** Oracle SQL for [[simhashMd5]]: hex-digit polynomial for the 60-bit
    * word hash, 60 generated bit-sum aggregates, bit reassembly, the same
    * 4×15-bit band join. Generated, not hand-written, so the bit layout
    * can't drift from the Spark side. */
  private def simhashMd5Oracle: String = {
    val Bits = 60
    // h = sum_i hexval(md5(w)[i]) * 16^(14-i)  (15 hex chars = 60 bits)
    val hexPoly = (0 until 15).map { i =>
      val p = java.math.BigInteger.valueOf(16).pow(14 - i)
      s"(strpos('0123456789abcdef', substr(md5(w), ${i + 1}, 1)) - 1) * CAST($p AS BIGINT)"
    }.mkString("\n           + ")
    val bitSums = (0 until Bits).map(b =>
      s"sum(CASE WHEN (h >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS s$b")
      .mkString(",\n         ")
    val reassemble = (0 until Bits).map(b =>
      s"(CASE WHEN s$b > 0 THEN CAST(${1L << b} AS BIGINT) ELSE 0 END)")
      .mkString("\n           + ")
    val bandRows = (0 until 4).map(b =>
      s"SELECT doc_id, simhash, lenb, $b AS band, (simhash >> ${b * 15}) & 32767 AS h FROM sig")
      .mkString("\n  UNION ALL ")
    s"""WITH w AS (
       |  SELECT doc_id, n_chars, unnest(list_distinct(string_split(text, ' '))) AS w
       |  FROM documents),
       |wh AS (
       |  SELECT doc_id, n_chars,
       |         $hexPoly AS h
       |  FROM w),
       |sums AS (
       |  SELECT doc_id, n_chars,
       |         $bitSums
       |  FROM wh GROUP BY doc_id, n_chars),
       |sig AS (
       |  SELECT doc_id,
       |         CAST(floor(n_chars / 50.0) AS INTEGER) AS lenb,
       |         $reassemble AS simhash
       |  FROM sums),
       |bands AS (
       |  $bandRows)
       |SELECT DISTINCT x.doc_id AS i, y.doc_id AS j,
       |       CAST(bit_count(xor(x.simhash, y.simhash)) AS INTEGER) AS hamming
       |FROM bands x JOIN bands y
       |  ON x.band = y.band AND x.h = y.h AND x.lenb = y.lenb
       | AND x.doc_id < y.doc_id
       |WHERE bit_count(xor(x.simhash, y.simhash)) <= 8
       |ORDER BY i, j""".stripMargin
  }

  /** Edit-distance-1 similarity join [N] by POSITION-TAGGED 1-deletion
    * neighborhoods (the FastSS family, public), sharpened so the join is
    * EXACT — no distance verification at all:
    *
    *  - two equal-length strings share a deletion variant at the SAME
    *    position p  ⟺  they are equal except possibly position p
    *    ⟺ substitution (or identical) — distance ≤ 1;
    *  - a string equals another's deletion variant  ⟺  one insert /
    *    delete — distance 1;
    *  - sharing variants only at DIFFERENT positions (e.g. the
    *    transposition "ab"/"ba") implies distance ≥ 2 and never joins.
    *
    * So two equi-joins — on (variant, position) and on (full = deletion)
    * — produce exactly the distance-≤1 pairs. Versus the untagged
    * neighborhood + levenshtein verify this dropped 73% of candidate
    * rows and the whole verify stage (measured 5.5 s → ~2 s at sf0.1).
    * At 100 TB: ×(|s|+1) row expansion on short keys and two bucketed
    * equi-joins; no quadratic term anywhere. */
  def editDistance1Pairs(df: DataFrame, idCol: String, nameCol: String): DataFrame = {
    val vs = df.select(col(idCol).as("id"), col(nameCol).as("name"),
      explode(expr(
        // sequence(1, 0) yields the DESCENDING [1, 0], so an empty name
        // must not reach it: guard with an empty typed array instead of
        // emitting two spurious ""-deletion variants.
        """array_append(
          |  if(length(name) > 0,
          |     transform(sequence(1, length(name)),
          |       i -> struct(i AS tag,
          |                   concat(substring(name, 1, i - 1),
          |                          substring(name, i + 1, length(name))) AS v)),
          |     CAST(array() AS array<struct<tag: int, v: string>>)),
          |  struct(-1 AS tag, name AS v))""".stripMargin)).as("e"))
      .select(col("id"), col("name"), col("e.tag").as("tag"), col("e.v").as("v"))
    // substitution / identical: same variant at the same position
    val samePos = vs.as("a").join(vs.as("b"),
        col("a.v") === col("b.v") && col("a.tag") === col("b.tag") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("i"), col("b.id").as("j"),
        when(col("a.name") === col("b.name"), 0).otherwise(1).as("dist"))
    // insert/delete: one string IS the other's deletion variant
    val fulls = vs.filter(col("tag") === -1)
    val dels = vs.filter(col("tag") >= 0)
    val insDel = fulls.as("a").join(dels.as("b"),
        col("a.v") === col("b.v") && col("a.id") =!= col("b.id"))
      .select(least(col("a.id"), col("b.id")).as("i"),
        greatest(col("a.id"), col("b.id")).as("j"), lit(1).as("dist"))
    samePos.unionByName(insDel).distinct()
  }

  /** Fuzzy best-match by native Jaro-Winkler
    * ([[graft.functions.JaroWinkler]], bit-compatible with the oracle
    * engine's `jaro_winkler_similarity`): each probe part name gets its
    * single most similar other part, ties pinned by (jw DESC, key ASC)
    * on the 8dp-rounded score. The probe set is bounded (50 rows,
    * broadcast) so the scan is linear in the candidate table — the
    * entity-resolution serving shape; for corpus-scale all-pairs
    * matching, block first ([[editDistance1Pairs]] / the LSH paths) and
    * use JW only as the verifier inside buckets. */
  private def jaroWinklerBest(s: SparkSession, d: String): DataFrame = {
    val parts = Tables.part(s, d).select(col("p_partkey"), col("p_name"))
    val probes = parts.filter(col("p_partkey") < 50)
      .select(col("p_partkey").as("probe_key"), col("p_name").as("probe_name"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("probe_key"))
      .orderBy(col("jw").desc, col("match_key"))
    broadcast(probes)
      .join(parts, col("p_partkey") =!= col("probe_key"))
      .select(col("probe_key"), col("probe_name"),
        col("p_partkey").as("match_key"), col("p_name").as("match_name"),
        bround(graft.functions.VectorFunctions.jaro_winkler(
          col("probe_name"), col("p_name")), 8).as("jw"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).drop("rn")
      .orderBy("probe_key")
  }

  /** Blocked fuzzy PAIR detection — the scale discipline from the r3
    * verdict applied to Jaro-Winkler: 20k part rows collapse to 64
    * DISTINCT names first (exact-dup collapse BEFORE any pairwise
    * work), pairs generate only inside noun blocks, the native
    * expression verifies, and multiplicities ride along so the answer
    * still describes the full table. Pairwise cost is quadratic in
    * DISTINCT names per block — independent of table size. */
  private def jwBlocked(s: SparkSession, d: String): DataFrame = {
    val reps = Tables.part(s, d).groupBy(col("p_name"))
      .agg(count(lit(1)).as("n_members"))
      .select(col("p_name"), col("n_members"),
        split(col("p_name"), " ").getItem(1).as("noun"))
    reps.as("a").join(reps.as("b"),
        col("a.noun") === col("b.noun") && col("a.p_name") < col("b.p_name"))
      .select(col("a.p_name").as("name_a"), col("b.p_name").as("name_b"),
        col("a.n_members").as("n_a"), col("b.n_members").as("n_b"),
        bround(graft.functions.VectorFunctions.jaro_winkler(
          col("a.p_name"), col("b.p_name")), 8).as("jw"))
      .filter(col("jw") >= 0.7)
      .orderBy("name_a", "name_b")
  }

  private def editDistPairs(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d)
      .select(col("c_custkey").as("id"), col("c_name").as("name"))
    editDistance1Pairs(c, "id", "name")
      .select(col("i"), col("j"), col("dist").cast("int").as("dist"))
      .orderBy("i", "j")
  }

  /** Content-defined chunking dedup [N] — the FastCDC/LBFS primitive
    * (Muthitacharoen et al., SOSP'01) that backup systems and
    * byte-level corpus dedup use where fixed windows fail: a chunk
    * BOUNDARY falls wherever the hash of the trailing 8-char window
    * ≡ 0 mod 16 (avg chunk ~16 chars), so an insertion early in a
    * document shifts ONE chunk instead of every fixed-offset window —
    * the property `text_substring_dedup`'s fixed n-grams lack. The
    * window hash is hex8(md5) (the repo's shared engine-replayable
    * hash), the chunk table aggregates by chunk md5 with doc counts
    * and a dup flag.
    *
    * Scale shape: per-row HOF work (boundary filter + chunk slicing
    * inside codegen) → one explode linear in corpus chars/16 → one
    * hash agg on the chunk hash. Same plan class as `dedup_exact`,
    * finer granularity. */
  private def cdcChunks(s: SparkSession, d: String): DataFrame = {
    val bounds = expr(
      """concat(array(0),
        |  CASE WHEN length(text) >= 8 THEN
        |    filter(sequence(8, length(text)), i ->
        |      graft_hex_long(md5(substring(text, i - 7, 8)), 1, 8) % 16 = 0)
        |  ELSE CAST(array() AS ARRAY<INT>) END,
        |  array(length(text)))""".stripMargin)
    Tables.documents(s, d)
      .select(col("doc_id"), col("text"), bounds.as("b"))
      .select(col("doc_id"), explode(expr(
        """filter(transform(sequence(1, size(b) - 1),
          |  k -> substring(text, b[k - 1] + 1, b[k] - b[k - 1])),
          |  c -> length(c) > 0)""".stripMargin)).as("chunk"))
      .groupBy(md5(col("chunk")).as("chunk_hash"))
      .agg(max(length(col("chunk"))).as("chunk_len"),
        countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_occ"))
      .withColumn("is_dup", col("n_occ") > 1)
      .orderBy("chunk_hash")
  }

  private val cdcChunksOracle: String = {
    val hex8 = (0 until 8).map { i =>
      val f = 1L << (4 * (7 - i))
      s"(strpos('0123456789abcdef', substr(md5(substr(text, i - 7, 8))," +
        s" ${i + 1}, 1)) - 1) * $f"
    }.mkString("(", "\n      + ", ")")
    s"""WITH b AS (
       |  SELECT doc_id, text,
       |         [0::BIGINT] || CASE WHEN length(text) >= 8 THEN
       |           list_filter(range(8, length(text) + 1), i ->
       |             $hex8 % 16 = 0)
       |         ELSE []::BIGINT[] END || [length(text)::BIGINT] AS bounds
       |  FROM documents),
       |chunks AS (
       |  SELECT doc_id, c AS chunk FROM (
       |    SELECT doc_id,
       |           unnest(list_transform(range(1, len(bounds)), k ->
       |             substr(text, bounds[k] + 1,
       |                    bounds[k + 1] - bounds[k]))) AS c
       |    FROM b)
       |  WHERE length(c) > 0)
       |SELECT md5(chunk) AS chunk_hash,
       |       CAST(max(length(chunk)) AS INTEGER) AS chunk_len,
       |       count(DISTINCT doc_id) AS n_docs, count(*) AS n_occ,
       |       count(*) > 1 AS is_dup
       |FROM chunks GROUP BY 1 ORDER BY chunk_hash""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_cdc_chunks" -> cdcChunks,
    "dedup_editdist" -> editDistPairs,
    "dedup_jarowinkler" -> jaroWinklerBest,
    "dedup_jw_blocked" -> jwBlocked,
    "dedup_exact" -> exact,
    "dedup_ngram_jaccard" -> ngramJaccard,
    "dedup_containment" -> containmentPairs,
    "dedup_minhash" -> minhash,
    "dedup_clusters" -> clusters,
    "dedup_cluster_best" -> clusterBest,
    "dedup_minhash_md5" -> minhashMd5,
    "dedup_minhash_incremental" -> minhashIncremental,
    "sink_store_compact" -> sinkStoreCompact,
    "dedup_clusters_md5" -> clustersMd5,
    "dedup_minhash_mllib" -> minhashMllib,
    "dedup_simhash" -> simhash,
    "dedup_simhash_md5" -> simhashMd5)

  val oracles: Map[String, String] = Map(
    "dedup_cdc_chunks" -> cdcChunksOracle,
    "dedup_containment" ->
      """WITH words AS (
        |  SELECT DISTINCT doc_id,
        |         ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2] AS w
        |  FROM (SELECT doc_id, string_split(text, ' ') AS ws
        |        FROM documents WHERE doc_id < 150),
        |       LATERAL (SELECT unnest(generate_series(1, len(ws) - 2)) AS i)
        |  WHERE len(ws) >= 3),
        |cnt AS (SELECT doc_id, count(*) AS n FROM words GROUP BY 1),
        |inter AS (
        |  SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS c
        |  FROM words a JOIN words b
        |    ON a.w = b.w AND a.doc_id <> b.doc_id
        |  GROUP BY 1, 2)
        |SELECT i, j, CAST(c AS DOUBLE) / CAST(n AS DOUBLE) AS containment
        |FROM inter JOIN cnt ON i = cnt.doc_id
        |WHERE CAST(c AS DOUBLE) / CAST(n AS DOUBLE) >= 0.5
        |ORDER BY i, j""".stripMargin,
    // brute-force ground truth: the blocked candidates + exact verify
    // must equal the all-pairs answer exactly
    "dedup_editdist" ->
      """SELECT a.c_custkey AS i, b.c_custkey AS j,
        |       CAST(levenshtein(a.c_name, b.c_name) AS INTEGER) AS dist
        |FROM customer a JOIN customer b ON a.c_custkey < b.c_custkey
        |WHERE levenshtein(a.c_name, b.c_name) <= 1
        |ORDER BY i, j""".stripMargin,
    "dedup_jw_blocked" ->
      """WITH reps AS (
        |  SELECT p_name, count(*) AS n_members,
        |         split_part(p_name, ' ', 2) AS noun
        |  FROM part GROUP BY p_name),
        |pairs AS (
        |  SELECT a.p_name AS name_a, b.p_name AS name_b,
        |         a.n_members AS n_a, b.n_members AS n_b,
        |         round_even(jaro_winkler_similarity(a.p_name, b.p_name), 8)
        |           AS jw
        |  FROM reps a JOIN reps b
        |    ON a.noun = b.noun AND a.p_name < b.p_name)
        |SELECT name_a, name_b, n_a, n_b, jw
        |FROM pairs WHERE jw >= 0.7
        |ORDER BY name_a, name_b""".stripMargin,
    "dedup_jarowinkler" ->
      """WITH probes AS (
        |  SELECT p_partkey AS probe_key, p_name AS probe_name
        |  FROM part WHERE p_partkey < 50),
        |cand AS (
        |  SELECT probe_key, probe_name, p_partkey AS match_key,
        |         p_name AS match_name,
        |         round_even(jaro_winkler_similarity(probe_name, p_name), 8)
        |           AS jw
        |  FROM probes, part WHERE p_partkey <> probe_key),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY probe_key
        |    ORDER BY jw DESC, match_key) AS rn
        |  FROM cand)
        |SELECT probe_key, probe_name, match_key, match_name, jw
        |FROM r WHERE rn = 1 ORDER BY probe_key""".stripMargin,
    "dedup_exact" ->
      """SELECT lang, source, n_chars, min(doc_id) AS keep_id, count(*) AS n_dups
        |FROM documents GROUP BY lang, source, n_chars
        |ORDER BY lang, source, n_chars""".stripMargin,
    "dedup_ngram_jaccard" ->
      """WITH words AS (
        |  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS w
        |  FROM documents WHERE doc_id < 150),
        |cnt AS (SELECT doc_id, count(*) AS n FROM words GROUP BY 1),
        |inter AS (
        |  SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS c
        |  FROM words a JOIN words b ON a.w = b.w AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT i, j, c * 1.0 / (na.n + nb.n - c) AS jaccard
        |FROM inter JOIN cnt na ON i = na.doc_id JOIN cnt nb ON j = nb.doc_id
        |WHERE c * 1.0 / (na.n + nb.n - c) >= 0.8
        |ORDER BY i, j""".stripMargin,
    "dedup_minhash_md5" -> minhashMd5Oracle,
    "dedup_minhash_incremental" -> minhashIncrementalOracle,
    "sink_store_compact" -> minhashIncrementalOracle,
    "dedup_clusters_md5" -> clustersMd5Oracle,
    "dedup_simhash_md5" -> simhashMd5Oracle,
    // the three promoted gates (r10): every registered output row is an
    // invariant the xx/MLlib pipelines satisfy BY CONSTRUCTION, so the
    // oracle emits the row set (exactly computable: doc ids /
    // identical-word-set pairs) with every boolean pinned TRUE — any
    // regression in the non-mirrorable pipelines flips a boolean or
    // drops an anchor row and hash-fails the driver gate
    "dedup_minhash" ->
      """SELECT doc_id, TRUE AS label_ok, TRUE AS setdup_ok, TRUE AS band_ok
        |FROM documents ORDER BY doc_id""".stripMargin,
    "dedup_simhash" ->
      """WITH k AS (
        |  SELECT doc_id,
        |         list_sort(list_distinct(string_split(text, ' '))) AS ws,
        |         CAST(floor(n_chars / 50.0) AS INTEGER) AS lenb
        |  FROM documents)
        |SELECT a.doc_id AS i, b.doc_id AS j,
        |       TRUE AS found_ok, TRUE AS ham0_ok, TRUE AS band_ok
        |FROM k a JOIN k b
        |  ON a.ws = b.ws AND a.lenb = b.lenb AND a.doc_id < b.doc_id
        |ORDER BY i, j""".stripMargin,
    "dedup_minhash_mllib" ->
      """WITH k AS (
        |  SELECT doc_id, list_sort(list_distinct(string_split(text, ' '))) AS ws
        |  FROM documents WHERE doc_id < 500)
        |SELECT a.doc_id AS i, b.doc_id AS j,
        |       TRUE AS found_ok, TRUE AS sim1_ok, TRUE AS band_ok
        |FROM k a JOIN k b ON a.ws = b.ws AND a.doc_id < b.doc_id
        |ORDER BY i, j""".stripMargin,
    // transitive closure by recursive CTE (seed every node with itself,
    // propagate over symmetric edges), then min reachable id per node =
    // the component label; aggregate to (cluster, size, member list)
    "dedup_clusters" ->
      """WITH RECURSIVE words AS (
        |  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS w
        |  FROM documents WHERE doc_id < 150),
        |cnt AS (SELECT doc_id, count(*) AS n FROM words GROUP BY 1),
        |inter AS (
        |  SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS c
        |  FROM words a JOIN words b ON a.w = b.w AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |pairs AS (
        |  SELECT i, j FROM inter
        |  JOIN cnt na ON i = na.doc_id JOIN cnt nb ON j = nb.doc_id
        |  WHERE c * 1.0 / (na.n + nb.n - c) >= 0.8),
        |edges AS (SELECT i AS src, j AS dst FROM pairs
        |          UNION ALL SELECT j, i FROM pairs),
        |nodes AS (SELECT doc_id AS id FROM documents WHERE doc_id < 150),
        |reach(id, r) AS (
        |  SELECT id, id FROM nodes
        |  UNION
        |  SELECT e.dst, reach.r FROM edges e JOIN reach ON e.src = reach.id),
        |lab AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id)
        |SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size,
        |       string_agg(CAST(id AS VARCHAR), ',' ORDER BY id) AS members
        |FROM lab GROUP BY cluster_id ORDER BY cluster_id""".stripMargin,
    "dedup_cluster_best" ->
      """WITH RECURSIVE words AS (
        |  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS w
        |  FROM documents WHERE doc_id < 150),
        |cnt AS (SELECT doc_id, count(*) AS n FROM words GROUP BY 1),
        |inter AS (
        |  SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS c
        |  FROM words a JOIN words b ON a.w = b.w AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |pairs AS (
        |  SELECT i, j FROM inter
        |  JOIN cnt na ON i = na.doc_id JOIN cnt nb ON j = nb.doc_id
        |  WHERE c * 1.0 / (na.n + nb.n - c) >= 0.8),
        |edges AS (SELECT i AS src, j AS dst FROM pairs
        |          UNION ALL SELECT j, i FROM pairs),
        |nodes AS (SELECT doc_id AS id FROM documents WHERE doc_id < 150),
        |reach(id, r) AS (
        |  SELECT id, id FROM nodes
        |  UNION
        |  SELECT e.dst, reach.r FROM edges e JOIN reach ON e.src = reach.id),
        |lab AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id),
        |j AS (
        |  SELECT l.cluster_id, d.doc_id, d.n_chars
        |  FROM lab l JOIN documents d ON l.id = d.doc_id),
        |r AS (
        |  SELECT cluster_id, doc_id, n_chars,
        |         row_number() OVER (PARTITION BY cluster_id
        |           ORDER BY n_chars DESC, doc_id ASC) AS rn,
        |         count(*) OVER (PARTITION BY cluster_id) AS cs
        |  FROM j)
        |SELECT cluster_id, doc_id AS rep_id,
        |       CAST(n_chars AS BIGINT) AS rep_chars, CAST(cs AS BIGINT) AS cluster_size
        |FROM r WHERE rn = 1 ORDER BY cluster_id""".stripMargin)
}
