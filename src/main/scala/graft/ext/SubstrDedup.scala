package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.pipeline.{EpochStore, StoreCompact}

/** Exact duplicated-substring removal [N] — the ExactSubstr discipline of
  * Lee et al. 2022 ("Deduplicating Training Data Makes Language Models
  * Better"), adapted to token granularity so the whole pass is relational:
  * any span of >= K consecutive tokens that occurs at least twice ANYWHERE
  * in the corpus (across documents or repeated within one) is cut from
  * every document that contains it, and the surviving tokens are stitched
  * back together in order. Unlike the minhash/simhash family (which drops
  * whole near-duplicate documents), this removes boilerplate SPANS —
  * headers, license blocks, navigation chrome — while keeping the unique
  * remainder of each page.
  *
  * Relational shape (no suffix array needed at token granularity):
  *   1. positional K-gram explode: (doc_id, start, md5(gram)) — map-side,
  *      amplification exactly x(n-K+1) per doc;
  *   2. global gram frequency (ONE hash exchange on the gram hash,
  *      partial counts combine map-side) -> the duplicated-gram set;
  *   3. join occurrences back to the duplicated set (same gram-hash key,
  *      so AQE plans it off the same exchange) -> covered intervals
  *      [start, start+K-1];
  *   4. per-document gaps-and-islands merge of overlapping intervals
  *      (window cumulative max — partitioned by doc, never global);
  *   5. one equi-join of islands back to the token arrays, then a
  *      map-side HOF filter drops covered positions and re-joins the
  *      survivors.
  *
  * Every wide stage keys on either the gram hash or doc_id — both
  * uniformly distributed — and per-doc state (the merged island list) is
  * bounded by document length, so the same plan holds on a 100 TB corpus:
  * the gram exchange is the only stage that sees corpus-scale cardinality
  * and it is a plain hash aggregation. Determinism: md5 gram hashes, no
  * floats anywhere; the DuckDB oracle mirrors the construction token for
  * token and the output hashes the cleaned text, so hash_match certifies
  * the exact surviving-token sequence of every document.
  */
object SubstrDedup extends graft.QueryModule {

  /** Minimum duplicated run length, in tokens. Lee et al. use 50 BPE
    * tokens on web crawl; the synthetic docs are short, so K=8 exercises
    * the same machinery with actual hits. */
  private val K = 8

  /** Library form: docs(idCol, textCol) -> (idCol, n_tokens, n_removed,
    * clean_md5). See the object doc for the plan shape. */
  def removeDuplicatedSpans(docs: DataFrame, idCol: String, textCol: String,
                            k: Int = K): DataFrame = {
    val toks = docs.select(col(idCol).as("doc_id"),
      split(col(textCol), " ").as("ws"))
    // 1. positional k-grams (docs shorter than k contribute none and are
    //    re-attached whole by the left join in step 5)
    val grams = toks.filter(size(col("ws")) >= k)
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(1, size(ws) - ${k - 1}), " +
          s"i -> struct(i as st, md5(array_join(slice(ws, i, $k), ' ')) as g))"))
        .as("sg"))
      .select(col("doc_id"), col("sg.st").as("st"), col("sg.g").as("g"))
    // 2. duplicated grams: global occurrence count >= 2
    val dupG = grams.groupBy(col("g")).agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= 2).select(col("g"))
    // 3. covered intervals
    val ivl = grams.join(dupG, "g")
      .select(col("doc_id"), col("st"), (col("st") + (k - 1)).as("en"))
    // 4. merge overlapping/adjacent intervals per doc (start is unique per
    //    doc, so the window order is total and the cumulative max is
    //    deterministic)
    val wPrev = Window.partitionBy(col("doc_id")).orderBy(col("st"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wCum = Window.partitionBy(col("doc_id")).orderBy(col("st"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val islands = ivl
      .withColumn("brk",
        when(col("st") > coalesce(max(col("en")).over(wPrev), lit(0)) + 1,
          lit(1L)).otherwise(lit(0L)))
      .withColumn("iid", sum(col("brk")).over(wCum))
      .groupBy(col("doc_id"), col("iid"))
      .agg(min(col("st")).as("st"), max(col("en")).as("en"))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("st"), col("en")))).as("cov"))
    // 5. drop covered positions, stitch the remainder (map-side HOFs; the
    //    island list is tiny relative to the doc, so exists() is cheap)
    toks.join(islands, Seq("doc_id"), "left")
      .select(col("doc_id"), size(col("ws")).cast("long").as("n_tokens"),
        expr("filter(transform(ws, (w, i) -> struct(i + 1 as p, w as w)), " +
          "x -> cov is null or " +
          "not exists(cov, c -> x.p between c.st and c.en))").as("kept"))
      .select(col("doc_id"), col("n_tokens"),
        (col("n_tokens") - size(col("kept"))).cast("long").as("n_removed"),
        md5(expr("array_join(transform(kept, x -> x.w), ' ')"))
          .as("clean_md5"))
  }

  private def substringDedup(s: SparkSession, d: String): DataFrame =
    removeDuplicatedSpans(Tables.documents(s, d), "doc_id", "text")
      .orderBy("doc_id")

  /** Positional K-gram occurrences (doc_id, st, g) — step 1 of the
    * batch pass, shared with the incremental twin. */
  private def gramOcc(docs: DataFrame, k: Int): DataFrame =
    docs.select(col("doc_id"), split(col("text"), " ").as("ws"))
      .filter(size(col("ws")) >= k)
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(1, size(ws) - ${k - 1}), " +
          s"i -> struct(i as st, md5(array_join(slice(ws, i, $k), ' ')) as g))"))
        .as("sg"))
      .select(col("doc_id"), col("sg.st").as("st"), col("sg.g").as("g"))

  /** Steps 4-5 of the batch pass (interval merge + stitch), shared with
    * the incremental twin: `ivl` = covered intervals (doc_id, st, en),
    * `docs` = (doc_id, text) to stitch — docs absent from `ivl` come
    * back whole. */
  private def mergeAndStitch(docs: DataFrame, ivl: DataFrame): DataFrame = {
    val wPrev = Window.partitionBy(col("doc_id")).orderBy(col("st"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wCum = Window.partitionBy(col("doc_id")).orderBy(col("st"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val islands = ivl
      .withColumn("brk",
        when(col("st") > coalesce(max(col("en")).over(wPrev), lit(0)) + 1,
          lit(1L)).otherwise(lit(0L)))
      .withColumn("iid", sum(col("brk")).over(wCum))
      .groupBy(col("doc_id"), col("iid"))
      .agg(min(col("st")).as("st"), max(col("en")).as("en"))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("st"), col("en")))).as("cov"))
    docs.select(col("doc_id"), split(col("text"), " ").as("ws"))
      .join(islands, Seq("doc_id"), "left")
      .select(col("doc_id"), size(col("ws")).cast("long").as("n_tokens"),
        expr("filter(transform(ws, (w, i) -> struct(i + 1 as p, w as w)), " +
          "x -> cov is null or " +
          "not exists(cov, c -> x.p between c.st and c.en))").as("kept"))
      .select(col("doc_id"), col("n_tokens"),
        (col("n_tokens") - size(col("kept"))).cast("long").as("n_removed"),
        md5(expr("array_join(transform(kept, x -> x.w), ' ')"))
          .as("clean_md5"))
  }

  /** One micro-batch of INCREMENTAL ExactSubstr [N] (r14) — the
    * lifecycle leg the family lacked (the dedup-band-store discipline
    * applied to span dedup): clean a delta of documents against a
    * persisted gram store WITHOUT re-cleaning the historical corpus,
    * with the one semantics span dedup adds over near-dup banding —
    * duplication REACHES BACK: a delta doc repeating a span that until
    * now occurred once makes the span duplicated, so its single PRIOR
    * holder must be re-cleaned too.
    *
    * Store layout (all epoch=N partitioned, replay-idempotent like
    * [[graft.ext.Dedup.dedupDelta]]): `docs` (doc_id, text), `occ`
    * (doc_id, st, g) positional grams, `cnt` (g, n) per-epoch gram
    * counts, `res` (doc_id, n_tokens, n_removed, clean_md5) cleaned
    * rows, rewritten only for docs the epoch AFFECTS; the serve is
    * latest-res-per-doc.
    *
    * Per-epoch work: gram the delta (map-side), one scan of the saved
    * `cnt` table (distinct-gram scale, NOT corpus-token scale) to
    * split prior counts from totals, the affected set = delta docs ∪
    * prior docs holding a gram whose count crossed 2 THIS epoch (via
    * one equi-join of prior `occ` against the crossing grams — output
    * is affected-scale), and interval/stitch work only for affected
    * docs. Soundness: the global dup set is {g : total(g) >= 2};
    * a prior doc's interval set changes iff one of ITS grams entered
    * that set, which is exactly the crossing-gram join; within an
    * epoch every affected doc is re-cleaned against the FULL dup set,
    * so serve-after-epoch ≡ the batch pass over all docs so far — the
    * oracle (the full-union recompute) certifies it by hash.
    * Cross-epoch re-delivery is anti-joined out; same-epoch replays
    * rewrite their own partitions with identical rows. */
  def substrDedupDelta(batchIn: DataFrame, storeDir: String, epoch: Long,
                       k: Int = K): DataFrame = {
    import graft.Ckpt.CutOps
    val st = EpochStore(batchIn.sparkSession, storeDir).append(epoch)
    val batch = batchIn.select(col("doc_id"), col("text")).cut()
    val fresh = st.unseen(batch, "docs", "doc_id").cut()
    val freshOcc = gramOcc(fresh, k).cut()
    st.write("docs", fresh)
    st.write("occ", freshOcc)
    st.write("cnt", freshOcc.groupBy(col("g")).agg(count(lit(1)).as("n")))
    // prior vs total counts: one scan of the cnt table (distinct-gram
    // scale); prior = epochs != E so a same-epoch replay recomputes
    // identically
    val cntAll = st.read("cnt").withColumn("ep", col("epoch").cast("long"))
    val prevC = cntAll.filter(col("ep") =!= epoch)
      .groupBy(col("g")).agg(sum(col("n")).as("p"))
    val totals = cntAll.groupBy(col("g")).agg(sum(col("n")).as("total")).cut()
    // grams whose count crossed 2 THIS epoch with a single prior
    // holder — that holder's clean text changes
    val crossing = totals.join(prevC, Seq("g"))
      .filter(col("p") === 1 && col("total") >= 2).select(col("g"))
    val occAll = st.read("occ").select(col("doc_id"), col("st"), col("g"))
    val affectedOld = occAll.join(crossing, "g").select(col("doc_id"))
    val reclean = fresh.select(col("doc_id")).union(affectedOld)
      .distinct().cut()
    // full interval set for affected docs against the GLOBAL dup set
    val dupG = totals.filter(col("total") >= 2).select(col("g"))
    val ivl = occAll.join(reclean, Seq("doc_id")).join(dupG, "g")
      .select(col("doc_id"), col("st"), (col("st") + (k - 1)).as("en"))
    val docsAll = st.read("docs")
      .select("doc_id", "text").dropDuplicates("doc_id")
    val resRows = mergeAndStitch(docsAll.join(reclean, Seq("doc_id")), ivl)
      .cut() // materialize BEFORE the res write replaces this epoch's files
    st.write("res", resRows)
    StoreCompact.latestRes(st.read("res"))
      .select(col("doc_id"), col("n_tokens"), col("n_removed"),
        col("clean_md5"))
      .orderBy("doc_id")
  }

  /** Registered lifecycle key: two delta epochs (first 80% of the
    * doc-id space, then the rest) into a per-run store, served after
    * the second — the oracle is the batch key's FULL-UNION recompute,
    * so hash equality proves delta-computed ≡ full re-clean, including
    * the reach-back re-cleaning of prior docs whose spans became
    * duplicated in epoch 1. */
  private def substringDedupIncremental(s: SparkSession, d: String)
      : DataFrame = {
    val docsDf = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val split =
      (docsDf.agg(max(col("doc_id"))).head().getLong(0) + 1L) * 4L / 5L
    val dir = graft.Scratch.dir(
      s"substr_incr-${java.util.UUID.randomUUID()}")
    substrDedupDelta(docsDf.filter(col("doc_id") < split), dir, 0L): Unit
    substrDedupDelta(docsDf.filter(col("doc_id") >= split), dir, 1L)
  }

  /** Minimum duplicated run length for the CHARACTER-level pass, in
    * chars — a power of two so the rank at round log2(C) compares
    * exactly C-char prefixes. Lee et al.'s discipline is ~50 chars on
    * web crawl; 32 exercises the same machinery with hits on the
    * synthetic docs. */
  private val CChars = 32

  /** CHARACTER-granularity ExactSubstr [N] (r12 VERDICT #6) — the
    * token K-gram pass above misses templated boilerplate whose
    * duplication does not align to >= K whole tokens (variable
    * whitespace/punctuation, short shared spans); the reference
    * discipline (Lee et al. 2022) cuts >= C-char spans regardless of
    * token boundaries. Suffix RANKING via prefix doubling — the
    * Karp–Miller–Rosenberg construction — truncated at round log2(C):
    *
    *   1. one row per character position (doc_id, p, len);
    *   2. rank_0 = a hash rename of the character; round t in
    *      1..log2(C): rank_t[p] = hash(rank_{t-1}[p], rank_{t-1}[p+2^{t-1}])
    *      (sentinel past the doc end) — after round t two positions
    *      share a rank iff their next 2^t chars agree, the prefix-
    *      doubling invariant, so NO order/sort is ever needed: the hash
    *      RENAME preserves exactly the equality classes a dense rank
    *      would (the distributed win — each round is one `lead` window
    *      over the per-doc order, zero corpus-wide exchanges). The
    *      rank is a pair of independently-seeded xxhash64 longs (128
    *      collision bits — the md5 posture at half the width and none
    *      of the per-round string allocation; r15, guide §2.3/§4);
    *   3. positions with p + C - 1 <= len and a globally-shared rank_T
    *      (one hash agg on the rank — the only corpus-scale exchange)
    *      start a duplicated C-span: sentinel ranks never enter (every
    *      referenced position exists), so rank equality here IS
    *      C-char-substring equality;
    *   4. covered intervals merge per doc (gaps-and-islands, the token
    *      pass's machinery) and the survivors stitch back char by char.
    *
    * At 100 TB the char rows are corpus-byte-scale but each round is a
    * map-side window pass over ONE exchange reused across all rounds,
    * and the dup-class agg keys on a uniform md5 — the same shapes the
    * token pass scales on; C doubles cost one more round (log, not
    * linear — the suffix-ranking advantage over C-char grams).
    *
    * SEGMENT-LOCAL ranking (r13 VERDICT #1): partitioning the rank
    * windows by doc_id alone bounds a task by the LARGEST document —
    * one pathological multi-GB doc would serialize corpus-byte-scale
    * rows through log2(C) sequential window passes on a single task.
    * The fix is EXACT, not approximate: rank_t of position p depends
    * only on the chars at p..p+2^t-1 (the prefix-doubling invariant),
    * so rank_T = rank over the next C chars. Docs are therefore split
    * into fixed `segChars`-sized segments and each segment's partition
    * additionally carries the FIRST C-1 positions of the next segment
    * as overlap rows; ranking partitions on (doc_id, seg). By induction
    * (rank_t[q] is exact whenever rows q..q+2^t-1 are present, or the
    * doc truly ends and the '$' sentinel is the true sentinel), every
    * position OWNED by a segment gets exactly the rank the unsegmented
    * chain assigns; overlap rows' own (tail-truncated) ranks are
    * dropped before the dup agg. Per-task bound: segChars + C - 1 rows
    * regardless of doc size; interval merge then runs per doc on
    * interval-scale rows, not char-scale. SubstrDedupSpec pins
    * segmented == unsegmented (hash-equal clean_md5) on a planted
    * oversized doc with a duplicate straddling a segment boundary. */
  def removeDuplicatedCharSpans(docs: DataFrame, idCol: String,
                                textCol: String,
                                c: Int = CChars,
                                segChars: Int = -1): DataFrame = {
    val base = docs.select(col(idCol).as("doc_id"), col(textCol).as("text"))
    // ONE consumer of the rank chain (r15, guide §1.2 — measure first,
    // §2.4): the dup test is `count(*) over (partition by r) >= 2` —
    // the same global rank-class counts the r13 layout computed with
    // cut + agg + join-back, but the rank subtree is consumed exactly
    // once, so the localCheckpoint (a WRITE of every char-position row
    // — corpus-byte scale at 100 TB) and the join of the rank rows back
    // against the dup-class set are both gone; one exchange on the
    // uniform 128-bit rank either way, and the window's per-group state
    // is one count over a handful of rows. Probed tail variants
    // (tools/Probe `chars`): window 2.02 s vs cut+join 2.27 / nocut+join
    // 2.32 at sf0.1 on the long-pair ranks (the window's partition sort
    // only became competitive when the rank narrowed from the 32-char
    // md5 hex string to two longs — it probed 1.6 s SLOWER on strings).
    val elig = charEligRanks(base, c, segChars)
    val ivl = elig
      .withColumn("cnt", count(lit(1)).over(Window.partitionBy(col("r"))))
      .filter(col("cnt") >= 2)
      .select(col("doc_id"), col("p").as("st"), (col("p") + (c - 1)).as("en"))
    mergeAndStitchChars(base, ivl)
  }

  /** Steps 1-3 of the char pass — the per-doc-LOCAL suffix ranks of
    * every eligible position (doc_id, p, r): the rank chain, the
    * segment replication, and the owned-eligible filter. Per-doc-local
    * is the property the incremental twin builds on: a doc's ranks
    * depend only on its OWN next C chars, so they never change as the
    * corpus grows — only the global rank-class counts do. */
  private[graft] def charEligRanks(base: DataFrame, c: Int,
                                   segChars: Int): DataFrame = {
    require(c >= 2 && (c & (c - 1)) == 0, s"C must be a power of two: $c")
    val segSz =
      if (segChars > 0) segChars
      else base.sparkSession.conf
        .get("spark.graft.substr.segChars", "65536").toInt
    require(segSz >= c, s"segChars must be >= C ($c): $segSz")
    val rounds = java.lang.Integer.numberOfTrailingZeros(c)
    val w = Window.partitionBy(col("doc_id"), col("seg")).orderBy(col("p"))
    val segOf = expr(s"CAST((p - 1) DIV $segSz AS INT)")
    // per-char rows + the truncated prefix-doubling rank chain (all
    // rounds share one window spec: one exchange, one sort). The first
    // C-1 positions of segment g+1 are REPLICATED into segment g's
    // partition so g's owned tail can see its next C chars; each
    // position lands in at most 2 partitions.
    //
    // r15 (guide §2.3/§4 — narrower types, cheaper expressions): ranks
    // are a PAIR OF LONGS (two independently-seeded xxhash64 renames —
    // 128 collision bits, the md5 posture) instead of the md5 hex
    // string of r12-r14. Each round renames (ra, rb, lead-ra, lead-rb)
    // through both seeds; equality classes are preserved exactly as the
    // md5 rename preserved them, every per-round allocation (65-byte
    // concat + hex string) becomes codegen long arithmetic, and the
    // rank column the dup agg exchanges narrows 32+ bytes -> 16. Probe:
    // the 5-round chain alone reads 1.95 s (md5) vs 0.89 s (long-pair)
    // at sf0.1; the unchanged md5-chain ORACLE certifies output
    // equality (clean_md5 hash per doc), and the sentinel argument is
    // unchanged — eligible positions never read a sentinel-mixed rank,
    // so the Long.MinValue sentinel (vs '$') affects only rows the
    // owned-eligible filter drops.
    var pos = base
      .select(col("doc_id"), length(col("text")).as("len"),
        posexplode(split(col("text"), "")).as(Seq("p0", "ch")))
      .select(col("doc_id"), col("len"), (col("p0") + 1).as("p"),
        xxhash64(lit(0), col("ch")).as("ra"),
        xxhash64(lit(1), col("ch")).as("rb"))
      .select(col("doc_id"), col("len"), col("p"), col("ra"), col("rb"),
        explode(when(
          col("p") > segSz && (col("p") - 1) % segSz <= c - 2,
          array(segOf, segOf - 1)).otherwise(array(segOf))).as("seg"))
    for (t <- 1 to rounds) {
      pos = pos
        .select(col("doc_id"), col("len"), col("p"), col("seg"),
          col("ra"), col("rb"),
          coalesce(lead(col("ra"), 1 << (t - 1)).over(w),
            lit(Long.MinValue)).as("la"),
          coalesce(lead(col("rb"), 1 << (t - 1)).over(w),
            lit(Long.MinValue)).as("lb"))
        .select(col("doc_id"), col("len"), col("p"), col("seg"),
          xxhash64(lit(0), col("ra"), col("rb"), col("la"), col("lb"))
            .as("ra"),
          xxhash64(lit(1), col("ra"), col("rb"), col("la"), col("lb"))
            .as("rb"))
    }
    // globally-eligible positions, owned rows only (overlap copies
    // carry segment-truncated ranks)
    pos.filter(col("p") <= col("len") - (c - 1) && col("seg") === segOf)
      .select(col("doc_id"), col("p"), struct(col("ra"), col("rb")).as("r"))
  }

  /** Step 4 of the char pass (interval merge + char stitch), shared
    * with the incremental twin. */
  private[graft] def mergeAndStitchChars(base: DataFrame, ivl: DataFrame)
      : DataFrame = {
    val wPrev = Window.partitionBy(col("doc_id")).orderBy(col("st"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wCum = Window.partitionBy(col("doc_id")).orderBy(col("st"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val islands = ivl
      .withColumn("brk",
        when(col("st") > coalesce(max(col("en")).over(wPrev), lit(0)) + 1,
          lit(1L)).otherwise(lit(0L)))
      .withColumn("iid", sum(col("brk")).over(wCum))
      .groupBy(col("doc_id"), col("iid"))
      .agg(min(col("st")).as("st"), max(col("en")).as("en"))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("st"), col("en")))).as("cov"))
    base.join(islands, Seq("doc_id"), "left")
      .select(col("doc_id"), length(col("text")).cast("long").as("n_chars"),
        // x.ch <> '' guards the one split('') artifact: an EMPTY text
        // yields [""], which must not count as a kept char
        expr("filter(transform(split(text, ''), (ch, i) -> " +
          "struct(i + 1 as p, ch as ch)), " +
          "x -> x.ch <> '' and (cov is null or " +
          "not exists(cov, cc -> x.p between cc.st and cc.en)))").as("kept"))
      .select(col("doc_id"), col("n_chars"),
        (col("n_chars") - size(col("kept"))).cast("long").as("n_removed"),
        md5(expr("array_join(transform(kept, x -> x.ch), '')"))
          .as("clean_md5"))
  }

  /** One micro-batch of INCREMENTAL char-level ExactSubstr [N] (r14) —
    * [[substrDedupDelta]]'s discipline at character granularity,
    * completing the batch/incremental × token/char matrix. It works
    * because the suffix ranks are per-doc-LOCAL ([[charEligRanks]]):
    * a delta doc is ranked ONCE, in isolation, and never re-ranked —
    * only the global rank-class COUNTS evolve, and a class crossing
    * count 2 this epoch reaches back to re-clean its single prior
    * holder, exactly the token twin's crossing-gram rule with rank
    * classes in place of gram hashes. Store: `docs`/`occ` (eligible
    * ranks)/`cnt`/`res`, epoch-partitioned, replay-idempotent,
    * latest-res-per-doc serve, [[graft.pipeline.StoreCompact
    * .compactSubstrStore]]-compatible (same sub-table semantics). */
  def substrCharsDelta(batchIn: DataFrame, storeDir: String, epoch: Long,
                       c: Int = CChars, segChars: Int = -1): DataFrame = {
    import graft.Ckpt.CutOps
    val st = EpochStore(batchIn.sparkSession, storeDir).append(epoch)
    val batch = batchIn.select(col("doc_id"), col("text")).cut()
    val fresh = st.unseen(batch, "docs", "doc_id").cut()
    val freshOcc = charEligRanks(fresh, c, segChars).cut()
    st.write("docs", fresh)
    st.write("occ", freshOcc)
    st.write("cnt", freshOcc.groupBy(col("r")).agg(count(lit(1)).as("n")))
    val cntAll = st.read("cnt").withColumn("ep", col("epoch").cast("long"))
    val prevC = cntAll.filter(col("ep") =!= epoch)
      .groupBy(col("r")).agg(sum(col("n")).as("pn"))
    val totals = cntAll.groupBy(col("r")).agg(sum(col("n")).as("total")).cut()
    val crossing = totals.join(prevC, Seq("r"))
      .filter(col("pn") === 1 && col("total") >= 2).select(col("r"))
    val occAll = st.read("occ").select(col("doc_id"), col("p"), col("r"))
    val affectedOld = occAll.join(crossing, "r").select(col("doc_id"))
    val reclean = fresh.select(col("doc_id")).union(affectedOld)
      .distinct().cut()
    val dupR = totals.filter(col("total") >= 2).select(col("r"))
    val ivl = occAll.join(reclean, Seq("doc_id")).join(dupR, "r")
      .select(col("doc_id"), col("p").as("st"), (col("p") + (c - 1)).as("en"))
    val docsAll = st.read("docs")
      .select("doc_id", "text").dropDuplicates("doc_id")
    val resRows = mergeAndStitchChars(docsAll.join(reclean, Seq("doc_id")), ivl)
      .cut() // materialize BEFORE the res write replaces this epoch's files
    st.write("res", resRows)
    StoreCompact.latestRes(st.read("res"))
      .select(col("doc_id"), col("n_chars"), col("n_removed"),
        col("clean_md5"))
      .orderBy("doc_id")
  }

  /** Registered lifecycle key for the char twin: two delta epochs,
    * served after the second; oracle = the char batch key's unrolled
    * rank-chain recompute, so hash equality proves delta ≡ full
    * re-clean at character granularity. */
  private def substringDedupCharsIncremental(s: SparkSession, d: String)
      : DataFrame = {
    val docsDf = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val split =
      (docsDf.agg(max(col("doc_id"))).head().getLong(0) + 1L) * 4L / 5L
    val dir = graft.Scratch.dir(
      s"substr_chars_incr-${java.util.UUID.randomUUID()}")
    substrCharsDelta(docsDf.filter(col("doc_id") < split), dir, 0L): Unit
    substrCharsDelta(docsDf.filter(col("doc_id") >= split), dir, 1L)
  }

  private def substringDedupChars(s: SparkSession, d: String): DataFrame =
    removeDuplicatedCharSpans(Tables.documents(s, d), "doc_id", "text")
      .orderBy("doc_id")

  private val substringDedupOracle =
    s"""WITH toks AS (
       |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       |grams AS (
       |  SELECT doc_id, CAST(i AS INTEGER) AS st, CAST(i + ${K - 1} AS INTEGER) AS en,
       |         md5(array_to_string(list_slice(ws, i, i + ${K - 1}), ' ')) AS g
       |  FROM toks, unnest(range(1, len(ws) - ${K - 2})) t(i)
       |  WHERE len(ws) >= $K),
       |dupg AS (SELECT g FROM grams GROUP BY g HAVING count(*) >= 2),
       |ivl AS (SELECT doc_id, st, en FROM grams
       |        WHERE g IN (SELECT g FROM dupg)),
       |m AS (
       |  SELECT doc_id, st, en,
       |         CASE WHEN st > COALESCE(max(en) OVER (
       |                PARTITION BY doc_id ORDER BY st
       |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
       |              0) + 1 THEN 1 ELSE 0 END AS brk
       |  FROM ivl),
       |isl AS (
       |  SELECT doc_id, st, en,
       |         sum(brk) OVER (PARTITION BY doc_id ORDER BY st
       |                        ROWS UNBOUNDED PRECEDING) AS iid
       |  FROM m),
       |merged AS (
       |  SELECT doc_id, iid, min(st) AS st, max(en) AS en
       |  FROM isl GROUP BY doc_id, iid),
       |pos AS (
       |  SELECT doc_id, ws, CAST(p AS INTEGER) AS p
       |  FROM toks, unnest(range(1, len(ws) + 1)) t(p)),
       |kept AS (
       |  SELECT t.doc_id, t.p, t.ws[t.p] AS w
       |  FROM pos t
       |  WHERE NOT EXISTS (SELECT 1 FROM merged m
       |                    WHERE m.doc_id = t.doc_id
       |                      AND t.p BETWEEN m.st AND m.en))
       |SELECT t.doc_id,
       |       CAST(len(t.ws) AS BIGINT) AS n_tokens,
       |       CAST(len(t.ws) - count(k.p) AS BIGINT) AS n_removed,
       |       md5(COALESCE(string_agg(k.w, ' ' ORDER BY k.p), ''))
       |         AS clean_md5
       |FROM toks t LEFT JOIN kept k ON k.doc_id = t.doc_id
       |GROUP BY t.doc_id, len(t.ws)
       |ORDER BY t.doc_id""".stripMargin

  /** Generated oracle for [[substringDedupChars]]: the SAME truncated
    * prefix-doubling rank chain (rounds unrolled, one `lead` window
    * each), the eligible-dup classes, interval merge, and the char
    * stitch — every rank input byte-identical to the Spark side, so
    * hash_match certifies the exact surviving-character sequence. */
  private def substringDedupCharsOracle: String = {
    val c = CChars
    val rounds = java.lang.Integer.numberOfTrailingZeros(c)
    val rchain = (1 to rounds).map { t =>
      s"""r$t AS (
         |  SELECT doc_id, len, p,
         |         md5(r || '|' || coalesce(lead(r, ${1 << (t - 1)})
         |           OVER (PARTITION BY doc_id ORDER BY p), '$$')) AS r
         |  FROM r${t - 1})""".stripMargin
    }.mkString(",\n")
    s"""WITH d AS (SELECT doc_id, text, length(text) AS len FROM documents),
       |r0 AS (
       |  SELECT doc_id, len, CAST(p AS INTEGER) AS p, substr(text, p, 1) AS r
       |  FROM d, unnest(range(1, len + 1)) t(p)),
       |$rchain,
       |elig AS (SELECT doc_id, p, r FROM r$rounds WHERE p <= len - ${c - 1}),
       |dupr AS (SELECT r FROM elig GROUP BY r HAVING count(*) >= 2),
       |ivl AS (SELECT doc_id, p AS st, p + ${c - 1} AS en FROM elig
       |        WHERE r IN (SELECT r FROM dupr)),
       |m AS (
       |  SELECT doc_id, st, en,
       |         CASE WHEN st > COALESCE(max(en) OVER (
       |                PARTITION BY doc_id ORDER BY st
       |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
       |              0) + 1 THEN 1 ELSE 0 END AS brk
       |  FROM ivl),
       |isl AS (
       |  SELECT doc_id, st, en,
       |         sum(brk) OVER (PARTITION BY doc_id ORDER BY st
       |                        ROWS UNBOUNDED PRECEDING) AS iid
       |  FROM m),
       |merged AS (
       |  SELECT doc_id, iid, min(st) AS st, max(en) AS en
       |  FROM isl GROUP BY doc_id, iid),
       |pos AS (
       |  SELECT doc_id, CAST(p AS INTEGER) AS p, substr(text, p, 1) AS w
       |  FROM d, unnest(range(1, len + 1)) t(p)),
       |kept AS (
       |  SELECT t.doc_id, t.p, t.w
       |  FROM pos t
       |  WHERE NOT EXISTS (SELECT 1 FROM merged m2
       |                    WHERE m2.doc_id = t.doc_id
       |                      AND t.p BETWEEN m2.st AND m2.en))
       |SELECT d.doc_id,
       |       CAST(d.len AS BIGINT) AS n_chars,
       |       CAST(d.len - count(k.p) AS BIGINT) AS n_removed,
       |       md5(COALESCE(string_agg(k.w, '' ORDER BY k.p), ''))
       |         AS clean_md5
       |FROM d LEFT JOIN kept k ON k.doc_id = d.doc_id
       |GROUP BY d.doc_id, d.len
       |ORDER BY d.doc_id""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_substring_dedup" -> substringDedup,
    "text_substring_dedup_incremental" -> substringDedupIncremental,
    "text_substring_dedup_chars" -> substringDedupChars,
    "text_substring_dedup_chars_incremental" -> substringDedupCharsIncremental)

  val oracles: Map[String, String] = Map(
    "text_substring_dedup" -> substringDedupOracle,
    "text_substring_dedup_incremental" -> substringDedupOracle,
    "text_substring_dedup_chars" -> substringDedupCharsOracle,
    "text_substring_dedup_chars_incremental" -> substringDedupCharsOracle)
}
