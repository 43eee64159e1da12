package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.EpochStore
import graft.pipeline.EpochStore.Fold

/** The contract every persisted incremental store shares through
  * [[EpochStore]]: the compaction lease stops all nine delta writers
  * before they touch the store, and compaction's staged commit discards,
  * rolls forward, or keeps the lease exactly as its protocol says. Toy
  * rows only — the per-store lifecycles are StoreCompactSpec's. */
class EpochStoreSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(p: String) = Files.createTempDirectory(p).toString

  private def docs =
    Seq((1L, "a b c d e f g h"), (2L, "a b c d e f g i")).toDF("doc_id", "text")
  private def vecs =
    Seq((1L, 1, Seq(0.1f, 0.2f)), (2L, 2, Seq(0.3f, 0.4f)))
      .toDF("vec_id", "label", "embedding")
  private def mmDocs =
    Seq((1L, "en", 15L, "a b c d e f g h")).toDF("doc_id", "lang", "n_chars", "text")

  private val writers: Seq[(String, (String, Long) => DataFrame)] = Seq(
    "dedupDelta" -> ((d, e) => ext.Dedup.dedupDelta(docs, d, e)),
    "substrDedupDelta" -> ((d, e) => ext.SubstrDedup.substrDedupDelta(docs, d, e)),
    "substrCharsDelta" -> ((d, e) => ext.SubstrDedup.substrCharsDelta(docs, d, e)),
    "bm25Delta" -> ((d, e) => ops.EvalExtra.bm25Delta(docs, d, e)),
    "centroidDelta" -> ((d, e) => ext.SimSearch.centroidDelta(vecs, d, e)),
    "knnGraphDelta" -> ((d, e) => ext.SimSearch.knnGraphDelta(vecs, d, e)),
    "hnswDelta" -> ((d, e) => ext.SimSearch.hnswDelta(vecs.drop("label"), d, e)),
    "corpusCleanMultimodalDelta" ->
      ((d, e) => ext.Multimodal.corpusCleanMultimodalDelta(mmDocs, d, e)),
    "audioFpDelta" -> ((d, e) => ext.Audio.audioFpDelta(docs, d, e)))

  writers.foreach { case (name, delta) =>
    test(s"lease: $name fails before writing while the store is compacting") {
      val dir = tmp("graft_lease")
      Hfs.touch(s"$dir/_compacting")
      val e = intercept[RuntimeException](delta(dir, 7L))
      assert(e.getMessage.contains("compaction"), e.getMessage)
      // no sub-table at all, so no epoch=7 partition anywhere
      assert(Hfs.childDirNames(dir).isEmpty, Hfs.childDirNames(dir))
    }
  }

  /** Subs `a` (rows e, e + 10) and `b` (row e) over epochs 0 and 1. */
  private def toyStore(): EpochStore = {
    val st = EpochStore(spark, tmp("graft_epoch_store"))
    Seq(0L, 1L).foreach { e =>
      val ep = st.append(e)
      ep.write("a", Seq(e, e + 10).toDF("x"))
      ep.write("b", Seq(e).toDF("x"))
    }
    st
  }
  private def noEpochColumn(df: DataFrame): DataFrame = {
    assert(!df.columns.contains("epoch"), "a fold rule saw the epoch column")
    df
  }
  private val folds = Seq(Fold.of("a")(noEpochColumn), Fold.of("b")(_.distinct()))
  private def rows(st: EpochStore, sub: String) =
    st.read(sub).select("x").as[Long].collect().sorted.toSeq
  private def epochs(st: EpochStore, sub: String) =
    Hfs.childDirNames(s"${st.storeDir}/$sub").sorted
  private def stage(st: EpochStore, sub: String, x: Long): Unit =
    Seq(x).toDF("x").write.parquet(s"${st.storeDir}/.compact_$sub/epoch=-1")

  test("compaction folds each sub to one baseline; appends continue on top") {
    val st = toyStore()
    st.compact(folds: _*)
    assert(epochs(st, "a") == Seq("epoch=-1") && epochs(st, "b") == Seq("epoch=-1"))
    assert(rows(st, "a") == Seq(0L, 1L, 10L, 11L) && rows(st, "b") == Seq(0L, 1L))
    assert(!Hfs.exists(s"${st.storeDir}/_compacting"))
    st.append(2L).write("b", Seq(2L).toDF("x"))
    assert(rows(st, "b") == Seq(0L, 1L, 2L))
  }

  test("compaction: a staged sub without the commit marker is discarded") {
    val st = toyStore()
    stage(st, "a", 99L)
    Hfs.touch(s"${st.storeDir}/_compacting") // the dead run's lease
    st.compact(folds: _*)
    assert(rows(st, "a") == Seq(0L, 1L, 10L, 11L))
    assert(!Hfs.exists(s"${st.storeDir}/.compact_a"))
    assert(!Hfs.exists(s"${st.storeDir}/_compacting"))
  }

  test("compaction: a staged sub under the commit marker rolls forward") {
    val st = toyStore()
    stage(st, "a", 99L)
    Hfs.writeUtf8(s"${st.storeDir}/_compact_commit", "a")
    Hfs.touch(s"${st.storeDir}/_compacting")
    st.compact(folds: _*)
    assert(rows(st, "a") == Seq(99L), "the committed staging did not publish")
    assert(rows(st, "b") == Seq(0L, 1L))
    assert(!Hfs.exists(s"${st.storeDir}/_compact_commit"))
    assert(!Hfs.exists(s"${st.storeDir}/_compacting"))
  }

  test("compaction: the lease is released only on success") {
    val st = toyStore()
    intercept[RuntimeException] {
      st.compact(folds.head, Fold("b", _ => sys.error("fold failed")))
    }
    assert(Hfs.exists(s"${st.storeDir}/_compacting"))
    assert(epochs(st, "a") == Seq("epoch=0", "epoch=1"), "a failed run published")
    val e = intercept[RuntimeException](st.append(2L))
    assert(e.getMessage.contains("compaction"), e.getMessage)
    st.compact(folds: _*)
    assert(!Hfs.exists(s"${st.storeDir}/_compacting"))
    assert(rows(st, "a") == Seq(0L, 1L, 10L, 11L) && rows(st, "b") == Seq(0L, 1L))
    st.append(2L).write("a", Seq(2L).toDF("x"))
    assert(rows(st, "a") == Seq(0L, 1L, 2L, 10L, 11L))
  }
}
