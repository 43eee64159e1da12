package graft

import org.scalatest.funsuite.AnyFunSuite

/** Epoch-store compaction (r13): folding every `epoch=N` partition into
  * one baseline must not change what any reader or subsequent delta
  * computes — serve-before == serve-after, and post-compaction deltas
  * keep appending (the baseline reads as a prior epoch). */
// @Heavy (r15): excluded from the default smoke tier — compaction lifecycle soak; CompactSpec keeps the fast sibling coverage.
@graft.Heavy
class StoreCompactSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import java.nio.file.Files

  test("HNSW store: serve unchanged across compaction; deltas continue") {
    graft.functions.VectorFunctions.register(spark)
    val sf = TestSpark.sf0001
    val e = graft.Tables.embeddings(spark, sf)
    val store = Files.createTempDirectory("graft_compact_hnsw").toString
    graft.ext.SimSearch.hnswStoreSeed(
      e.filter("vec_id <> 0 AND vec_id % 3 = 0"), store, levels = 1)
    graft.ext.SimSearch.hnswDelta(
      e.filter("vec_id <> 0 AND vec_id % 3 = 1")
        .select("vec_id", "embedding"), store, 0L).collect()
    val probe = e.filter("vec_id = 0").select("embedding")
    def serve() = graft.ext.SimSearch.serveHnswFromStore(spark, store, probe)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val before = serve()
    graft.pipeline.StoreCompact.compactHnswStore(spark, store)
    // every sub-table is now the single epoch=-1 baseline
    assert(Hfs.childDirNames(s"$store/vecs") == Seq("epoch=-1"))
    assert(Hfs.childDirNames(s"$store/l0") == Seq("epoch=-1"))
    assert(serve() == before, "compaction changed the served answer")
    // a post-compaction delta appends against the baseline
    graft.ext.SimSearch.hnswDelta(
      e.filter("vec_id <> 0 AND vec_id % 3 = 2")
        .select("vec_id", "embedding"), store, 1L).collect()
    val after = serve()
    assert(after.size == 10)
    // the full corpus is now indexed: the post-compaction store serves
    // the same answer as a store built from all three slices directly
    val store2 = Files.createTempDirectory("graft_compact_hnsw2").toString
    graft.ext.SimSearch.hnswStoreSeed(
      e.filter("vec_id <> 0 AND vec_id % 3 = 0"), store2, levels = 1)
    graft.ext.SimSearch.hnswDelta(
      e.filter("vec_id <> 0 AND vec_id % 3 = 1")
        .select("vec_id", "embedding"), store2, 0L).collect()
    graft.ext.SimSearch.hnswDelta(
      e.filter("vec_id <> 0 AND vec_id % 3 = 2")
        .select("vec_id", "embedding"), store2, 1L).collect()
    val uncompacted = graft.ext.SimSearch
      .serveHnswFromStore(spark, store2, probe)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(after == uncompacted,
      "mid-lifecycle compaction diverged from the uncompacted lifecycle")
  }

  test("dedup band store: compaction preserves clusters; deltas continue") {
    val sf = TestSpark.sf0001
    val docs = graft.Tables.documents(spark, sf).select("doc_id", "text")
    def run(store: String, compactAfterEpoch1: Boolean) = {
      graft.ext.Dedup.dedupDelta(
        docs.filter("doc_id % 3 = 0").localCheckpoint(), store, 0L).collect()
      val r1 = graft.ext.Dedup.dedupDelta(
        docs.filter("doc_id % 3 = 1").localCheckpoint(), store, 1L)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      if (compactAfterEpoch1)
        graft.pipeline.StoreCompact.compactDedupStore(spark, store)
      val r2 = graft.ext.Dedup.dedupDelta(
        docs.filter("doc_id % 3 = 2").localCheckpoint(), store, 2L)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      (r1, r2)
    }
    val sC = Files.createTempDirectory("graft_compact_dedup").toString
    val sU = Files.createTempDirectory("graft_compact_dedup_u").toString
    val (c1, c2) = run(sC, compactAfterEpoch1 = true)
    val (u1, u2) = run(sU, compactAfterEpoch1 = false)
    assert(c1 == u1)
    assert(Hfs.childDirNames(s"$sC/pairs").contains("epoch=-1"))
    assert(c2 == u2,
      "post-compaction dedup delta diverged from the uncompacted lifecycle")
  }

  test("audio fingerprint store: compaction preserves matches; deltas continue") {
    val sf = TestSpark.sf0001
    val docs = graft.Tables.documents(spark, sf).select("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3))).toSeq
    def run(store: String, compactAfterEpoch1: Boolean) = {
      graft.ext.Audio.audioFpDelta(
        docs.filter("doc_id % 3 = 0").localCheckpoint(), store, 0L).collect()
      val r1 = rows(graft.ext.Audio.audioFpDelta(
        docs.filter("doc_id % 3 = 1").localCheckpoint(), store, 1L))
      if (compactAfterEpoch1)
        graft.pipeline.StoreCompact.compactAudioStore(spark, store)
      val r2 = rows(graft.ext.Audio.audioFpDelta(
        docs.filter("doc_id % 3 = 2").localCheckpoint(), store, 2L))
      (r1, r2)
    }
    val sC = Files.createTempDirectory("graft_compact_audio").toString
    val sU = Files.createTempDirectory("graft_compact_audio_u").toString
    val (c1, c2) = run(sC, compactAfterEpoch1 = true)
    val (u1, u2) = run(sU, compactAfterEpoch1 = false)
    assert(c1 == u1)
    assert(Hfs.childDirNames(s"$sC/fps").contains("epoch=-1"))
    assert(c2 == u2,
      "post-compaction audio delta diverged from the uncompacted lifecycle")
  }

  test("substr store: serve unchanged across compaction; deltas continue") {
    val sf = TestSpark.sf0001
    val docs = graft.Tables.documents(spark, sf).select("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
        .toSeq
    def run(store: String, compactAfterEpoch1: Boolean) = {
      graft.ext.SubstrDedup.substrDedupDelta(
        docs.filter("doc_id % 3 = 0").localCheckpoint(), store, 0L).collect()
      val r1 = rows(graft.ext.SubstrDedup.substrDedupDelta(
        docs.filter("doc_id % 3 = 1").localCheckpoint(), store, 1L))
      if (compactAfterEpoch1)
        graft.pipeline.StoreCompact.compactSubstrStore(spark, store)
      val r2 = rows(graft.ext.SubstrDedup.substrDedupDelta(
        docs.filter("doc_id % 3 = 2").localCheckpoint(), store, 2L))
      (r1, r2)
    }
    val sC = Files.createTempDirectory("graft_compact_substr").toString
    val sU = Files.createTempDirectory("graft_compact_substr_u").toString
    val (c1, c2) = run(sC, compactAfterEpoch1 = true)
    val (u1, u2) = run(sU, compactAfterEpoch1 = false)
    assert(c1 == u1)
    assert(Hfs.childDirNames(s"$sC/res").contains("epoch=-1"))
    assert(c2 == u2,
      "post-compaction substr delta diverged from the uncompacted lifecycle")
    // and the final serve equals the batch pass over everything
    val batch = graft.ext.SubstrDedup
      .removeDuplicatedSpans(docs, "doc_id", "text")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .toSeq.sortBy(_._1)
    assert(c2.sortBy(_._1) == batch,
      "compacted lifecycle diverged from the batch pass")
  }

  test("char-substr, bm25, centroid stores: serve unchanged across compaction") {
    val sf = TestSpark.sf0001
    val docs = graft.Tables.documents(spark, sf).select("doc_id", "text")
    // char-level substr store rides the SAME compactSubstrStore (same
    // sub-table names and read rules as the token store)
    val cs = Files.createTempDirectory("graft_compact_substr_c").toString
    graft.ext.SubstrDedup.substrCharsDelta(
      docs.filter("doc_id % 2 = 0").localCheckpoint(), cs, 0L).collect()
    val cBefore = graft.ext.SubstrDedup.substrCharsDelta(
      docs.filter("doc_id % 2 = 1").localCheckpoint(), cs, 1L)
      .collect().map(_.toSeq).toSeq
    graft.pipeline.StoreCompact.compactSubstrStore(spark, cs)
    assert(Hfs.childDirNames(s"$cs/res") == Seq("epoch=-1"))
    val cAfter = graft.ext.SubstrDedup.substrCharsDelta(
      docs.limit(0).localCheckpoint(), cs, 2L).collect().map(_.toSeq).toSeq
    assert(cAfter == cBefore, "char-substr compaction changed the serve")
    // bm25 store
    val bs = Files.createTempDirectory("graft_compact_bm25").toString
    graft.ops.EvalExtra.bm25Delta(
      docs.filter("doc_id % 2 = 0").localCheckpoint(), bs, 0L).collect()
    val bBefore = graft.ops.EvalExtra.bm25Delta(
      docs.filter("doc_id % 2 = 1").localCheckpoint(), bs, 1L)
      .collect().map(_.toSeq).toSeq
    graft.pipeline.StoreCompact.compactBm25Store(spark, bs)
    assert(Hfs.childDirNames(s"$bs/tf") == Seq("epoch=-1"))
    val bAfter = graft.ops.EvalExtra.bm25ServeFromStore(spark, bs)
      .collect().map(_.toSeq).toSeq
    assert(bAfter == bBefore, "bm25 compaction changed the serve")
    // centroid store
    val e = graft.Tables.embeddings(spark, sf)
      .select("vec_id", "label", "embedding")
    val es = Files.createTempDirectory("graft_compact_centroid").toString
    graft.ext.SimSearch.centroidDelta(
      e.filter("vec_id % 2 = 0").localCheckpoint(), es, 0L).collect()
    val eBefore = graft.ext.SimSearch.centroidDelta(
      e.filter("vec_id % 2 = 1").localCheckpoint(), es, 1L)
      .collect().map(_.toSeq).toSeq
    graft.pipeline.StoreCompact.compactCentroidStore(spark, es)
    assert(Hfs.childDirNames(s"$es/parts") == Seq("epoch=-1"))
    val eAfter = graft.ext.SimSearch.centroidDelta(
      e.limit(0).localCheckpoint(), es, 2L).collect().map(_.toSeq).toSeq
    assert(eAfter == eBefore, "centroid compaction changed the serve")
  }

  test("lease: a delta during compaction fails loudly; after, it completes") {
    val sf = TestSpark.sf0001
    val docs = graft.Tables.documents(spark, sf).select("doc_id", "text")
    val store = Files.createTempDirectory("graft_compact_lease").toString
    graft.ext.Dedup.dedupDelta(
      docs.filter("doc_id % 2 = 0").localCheckpoint(), store, 0L).collect()
    // a compaction in flight (or dead mid-run) = the _compacting lease
    Hfs.touch(s"$store/_compacting")
    val e = intercept[RuntimeException] {
      graft.ext.Dedup.dedupDelta(
        docs.filter("doc_id % 2 = 1").localCheckpoint(), store, 1L).collect()
    }
    assert(e.getMessage.contains("compaction"), e.getMessage)
    // completed compaction releases the lease; the SAME delta now lands
    graft.pipeline.StoreCompact.compactDedupStore(spark, store)
    assert(!Hfs.exists(s"$store/_compacting"))
    val r = graft.ext.Dedup.dedupDelta(
      docs.filter("doc_id % 2 = 1").localCheckpoint(), store, 1L).collect()
    assert(r.nonEmpty)
  }

  test("crash recovery: stranded states roll forward/back to a whole store") {
    val sf = TestSpark.sf0001
    val docs = graft.Tables.documents(spark, sf).select("doc_id", "text")
    val store = Files.createTempDirectory("graft_compact_crash").toString
    graft.ext.Dedup.dedupDelta(
      docs.filter("doc_id % 2 = 0").localCheckpoint(), store, 0L).collect()
    graft.ext.Dedup.dedupDelta(
      docs.filter("doc_id % 2 = 1").localCheckpoint(), store, 1L).collect()
    val expected = graft.ext.Dedup.dedupDelta(
      docs.limit(0).localCheckpoint(), store, 2L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // state 1 (ADVICE r13 medium #1): crash between the two renames of
    // the old protocol — sub MISSING, .old_<sub> stranded, no marker.
    // recovery must restore the sub, and compaction then completes.
    Hfs.rename(s"$store/docs", s"$store/.old_docs")
    Hfs.touch(s"$store/_compacting") // dead run also left its lease
    graft.pipeline.StoreCompact.compactDedupStore(spark, store)
    assert(Hfs.childDirNames(s"$store/docs") == Seq("epoch=-1"))
    def serve() = graft.ext.Dedup.dedupDelta(
      docs.limit(0).localCheckpoint(), store, 3L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(serve() == expected, "restore-then-compact changed the store")
    // state 2: crash AFTER the commit marker, mid-publish — docs moved
    // to staging, marker lists it, sub missing. recovery rolls FORWARD.
    Hfs.rename(s"$store/docs", s"$store/.compact_docs")
    Hfs.writeUtf8(s"$store/_compact_commit", "docs")
    Hfs.touch(s"$store/_compacting")
    graft.pipeline.StoreCompact.compactDedupStore(spark, store)
    assert(!Hfs.exists(s"$store/_compact_commit"))
    assert(!Hfs.exists(s"$store/_compacting"))
    assert(serve() == expected, "roll-forward changed the store")
    // state 3: half-staged dir with NO marker (crash mid-staging) is
    // discarded, not published
    Hfs.mkdirs(s"$store/.compact_bands/epoch=-1")
    Hfs.writeUtf8(s"$store/.compact_bands/epoch=-1/garbage", "not parquet")
    graft.pipeline.StoreCompact.compactDedupStore(spark, store)
    assert(serve() == expected, "discarded staging changed the store")
  }

  test("corpus-clean pair: crash between tpairs and bmark rolls forward whole") {
    // ADVICE r13 medium #2: the latest-wins read joins tpairs against
    // bmark on (band, h, ep) — folding ONE of the pair to epoch=-1
    // while the other keeps real epochs makes the join match nothing
    // and the text-pair graph silently reads empty. The staged-commit
    // protocol publishes both under one marker; simulate the worst
    // crash point (tpairs published, bmark still staged, marker
    // present) and prove recovery completes the pair and the serve is
    // unchanged.
    val sf = TestSpark.sf0001
    val docs = graft.Tables.documents(spark, sf)
      .select("doc_id", "lang", "n_chars", "text")
    val store = Files.createTempDirectory("graft_compact_mm_pair").toString
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getString(3)))
        .toSeq
    def serve(epoch: Long) = rows(
      graft.ext.Multimodal.corpusCleanMultimodalDelta(
        docs.filter("doc_id < 0").localCheckpoint(), store, epoch))
    graft.ext.Multimodal.corpusCleanMultimodalDelta(
      docs.filter("doc_id % 2 = 0").localCheckpoint(), store, 0L).collect()
    graft.ext.Multimodal.corpusCleanMultimodalDelta(
      docs.filter("doc_id % 2 = 1").localCheckpoint(), store, 1L).collect()
    val expected = serve(2L)
    // run a REAL compaction to obtain correctly-staged content, then
    // rewind to the mid-publish crash state: tpairs published (folded),
    // bmark back in staging, commit marker naming both
    graft.pipeline.StoreCompact.compactCorpusCleanStore(spark, store)
    val postCompact = serve(3L)
    assert(postCompact == expected, "clean compaction changed the serve")
    Hfs.rename(s"$store/bmark", s"$store/.compact_bmark")
    Hfs.writeUtf8(s"$store/_compact_commit", "tpairs\nbmark")
    Hfs.touch(s"$store/_compacting")
    // the crashed state is loud for writers...
    val e = intercept[RuntimeException] {
      graft.ext.Multimodal.corpusCleanMultimodalDelta(
        docs.filter("doc_id < 0").localCheckpoint(), store, 4L).collect()
    }
    assert(e.getMessage.contains("compaction"), e.getMessage)
    // ...and the next compaction run completes the pair before anything
    graft.pipeline.StoreCompact.compactCorpusCleanStore(spark, store)
    assert(Hfs.childDirNames(s"$store/bmark") == Seq("epoch=-1"))
    assert(Hfs.childDirNames(s"$store/tpairs") == Seq("epoch=-1"))
    assert(!Hfs.exists(s"$store/_compacting"))
    assert(serve(5L) == expected,
      "pair roll-forward changed the survivor set")
  }

  test("corpus-clean store: output unchanged across compaction; deltas continue") {
    val sf = TestSpark.sf0001
    val docs = graft.Tables.documents(spark, sf)
      .select("doc_id", "lang", "n_chars", "text")
    val store = Files.createTempDirectory("graft_compact_mm").toString
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getString(3)))
        .toSeq
    def delta(pred: String, epoch: Long) = rows(
      graft.ext.Multimodal.corpusCleanMultimodalDelta(
        docs.filter(pred).localCheckpoint(), store, epoch))
    delta("doc_id % 3 = 0", 0L)
    val before = delta("doc_id % 3 = 1", 1L)
    graft.pipeline.StoreCompact.compactCorpusCleanStore(spark, store)
    assert(Hfs.childDirNames(s"$store/tpairs") == Seq("epoch=-1"))
    assert(Hfs.childDirNames(s"$store/bmark") == Seq("epoch=-1"))
    // an EMPTY delta recomputes the survivor set from the stores alone
    val after = delta("doc_id < 0", 2L)
    assert(after == before, "compaction changed the survivor set")
    // a real post-compaction delta completes the corpus: the result must
    // equal the batch key over all docs
    val full = delta("doc_id % 3 = 2", 3L)
    val batchKey = rows(
      SparkEntry.queries("corpus_clean_multimodal")(spark, sf))
    assert(full == batchKey,
      "post-compaction delta diverged from the batch key")
  }
}
