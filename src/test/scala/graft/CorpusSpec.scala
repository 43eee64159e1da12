package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.Tables
import graft.ext.Corpus

/** Synthetic-data edge cases for the corpus-prep operators; the testdata
  * documents table has no true duplicate groups at sf0.01, so keep-best's
  * collapse path and packing's budget boundary are exercised here. */
class CorpusSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("packSequences cuts packs at the token budget, per shard") {
    import spark.implicits._
    // token counts incl. EOS: 4, 4, 4 -> cumsum 4, 8, 12 with budget 8:
    // packs 0, 0, 1; shard b restarts numbering
    val docs = Seq(
      (0L, "a", "w w w"), (1L, "a", "w w w"), (2L, "a", "w w w"),
      (3L, "b", "w w w")
    ).toDF("doc_id", "lang", "text")
    val got = Corpus.packSequences(docs, "lang", "doc_id", "text", 8)
      .orderBy("doc_id")
      .select("doc_id", "pack_id").as[(Long, Long)].collect().toSeq
    assert(got == Seq((0L, 0L), (1L, 0L), (2L, 1L), (3L, 0L)))
  }

  test("packSequences: single doc over budget still gets its own pack") {
    import spark.implicits._
    val docs = Seq((0L, "a", (1 to 20).map(_ => "w").mkString(" "))).toDF("doc_id", "lang", "text")
    val got = Corpus.packSequences(docs, "lang", "doc_id", "text", 8)
      .select("pack_id").as[Long].collect().toSeq
    assert(got == Seq(2L)) // cumsum 21 -> floor(20/8) = 2
  }

  test("sampleStratified keeps key%rate==0 in dimmed strata, all others whole") {
    import spark.implicits._
    val docs = (0L to 9L).map(i => (i, if (i < 6) "en" else "fr", "t"))
      .toDF("doc_id", "lang", "text")
    val rates = Seq(("en", 3L)).toDF("stratum", "rate")
    val got = Corpus.sampleStratified(docs, rates, "lang", "doc_id")
      .orderBy("doc_id").select("doc_id").as[Long].collect().toSeq
    assert(got == Seq(0L, 3L, 6L, 7L, 8L, 9L))
  }

  test("decontaminate counts 3-gram hits; short docs are clean") {
    import spark.implicits._
    val docs = Seq(
      (0L, "the stream table hash is bad"),    // 1 hit
      (1L, "stream table hash stream table hash"), // 2 overlapping+repeat: grams at i=1..4 -> hits at 1 and 4
      (2L, "stream table"),                    // <3 words: no grams
      (3L, "totally clean document here")
    ).toDF("doc_id", "text")
    val got = Corpus.decontaminate(docs, "doc_id", "text", Seq("stream table hash"))
      .orderBy("doc_id").select("doc_id", "n_hits", "contaminated")
      .as[(Long, Int, Boolean)].collect().toSeq
    assert(got == Seq((0L, 1, true), (1L, 2, true), (2L, 0, false), (3L, 0, false)))
  }

  test("decontaminateLarge (explode+join scale path) equals the HOF variant") {
    import spark.implicits._
    val docs = Seq(
      (0L, "the stream table hash is bad"),
      (1L, "stream table hash stream table hash"),
      (2L, "stream table"),
      (3L, "totally clean document here")
    ).toDF("doc_id", "text")
    val probeSeq = Seq("stream table hash")
    val probes = probeSeq.toDF("gram")
    val small = Corpus.decontaminate(docs, "doc_id", "text", probeSeq)
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    val large = Corpus.decontaminateLarge(docs, "doc_id", "text", probes)
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(large == small)
  }

  test("decontaminateLarge is robust to duplicate grams in the probe table") {
    import spark.implicits._
    val docs = Seq(
      (0L, "the stream table hash is bad"),
      (1L, "stream table hash stream table hash"),
      (3L, "totally clean document here")
    ).toDF("doc_id", "text")
    // a probe TABLE can carry dup shingles (e.g. overlapping eval sets);
    // membership semantics must not multiply n_hits
    val dupProbes = Seq("stream table hash", "stream table hash",
      "stream table hash").toDF("gram")
    val got = Corpus.decontaminateLarge(docs, "doc_id", "text", dupProbes)
      .orderBy("doc_id").select("doc_id", "n_hits", "contaminated")
      .as[(Long, Int, Boolean)].collect().toSeq
    assert(got == Seq((0L, 1, true), (1L, 2, true), (3L, 0, false)))
  }

  test("decontaminateBloom: no false negatives vs the exact variant") {
    import spark.implicits._
    val docs = Tables.documents(spark, TestSpark.sf001)
    val probeSeq = Seq("stream table hash", "window fast query", "part filter scan")
    val exact = Corpus.decontaminate(docs, "doc_id", "text", probeSeq)
      .filter($"contaminated").select("doc_id")
      .as[Long].collect().toSet
    val bloom = Corpus.decontaminateBloom(docs, "doc_id", "text",
        probeSeq.toDF("gram"))
      .filter($"contaminated").select("doc_id")
      .as[Long].collect().toSet
    assert(exact.nonEmpty)
    // Bloom guarantees: every truly contaminated doc is flagged
    assert(exact.subsetOf(bloom), s"false negatives: ${exact -- bloom}")
    // and at fpp=0.001 on this corpus the false-positive overhead is tiny
    assert(bloom.size <= exact.size + math.max(5, exact.size / 10),
      s"false-positive blowup: ${bloom.size} vs ${exact.size}")
  }

  test("packSequences shards 64-way on a bounded synthetic key") {
    // scale posture: window-cumsum parallelism is bounded by shard-key
    // cardinality; the pmod(doc_id, 64) binding must really produce 64
    // independent partitions, each packed from pack_id 0
    val packed = SparkEntry.queries("text_pack_shards")(spark, TestSpark.sf001)
    assert(packed.select("shard_id").distinct().count() == 64)
    import spark.implicits._
    val firstPacks = packed.groupBy($"shard_id")
      .agg(org.apache.spark.sql.functions.min($"pack_id").as("p0"))
      .filter($"p0" =!= 0L).count()
    assert(firstPacks == 0, "every shard must start packing at pack_id 0")
  }

  test("keepBest collapses case/whitespace duplicates to the longest, tie->min key") {
    import spark.implicits._
    val docs = Seq(
      (0L, "Hello  World", 12), // same fingerprint as 1, 2
      (1L, "hello world", 11),
      (2L, "HELLO\tWORLD", 11),
      (3L, "unique", 6)
    ).toDF("doc_id", "text", "n_chars")
    val got = Corpus.keepBest(docs, "doc_id", "text", "n_chars")
      .orderBy("doc_id").select("doc_id", "n_chars", "group_size")
      .as[(Long, Int, Long)].collect().toSeq
    assert(got == Seq((0L, 12, 3L), (3L, 6, 1L)))
  }

  test("splitAssign: deterministic, stable under corpus growth, ~80/10/10") {
    import spark.implicits._
    val small = (0L until 200L).toDF("doc_id")
    val big = (0L until 1000L).toDF("doc_id")
    def assign(df: org.apache.spark.sql.DataFrame): Map[Long, String] =
      Corpus.splitAssign(df, "doc_id")
        .select($"doc_id", $"split").as[(Long, String)].collect().toMap
    val a = assign(small)
    val b = assign(big)
    // growing the corpus NEVER moves an existing doc across splits
    assert(a.forall { case (k, v) => b(k) == v })
    // re-running is bit-stable
    assert(assign(big) == b)
    // the hash spreads close to the requested 80/10/10
    val train = b.values.count(_ == "train").toDouble / b.size
    val valid = b.values.count(_ == "valid").toDouble / b.size
    assert(train > 0.75 && train < 0.85, s"train frac $train")
    assert(valid > 0.06 && valid < 0.14, s"valid frac $valid")
    // a different salt draws a genuinely different split
    val resalted = Corpus.splitAssign(big, "doc_id", salt = "other")
      .select($"doc_id", $"split").as[(Long, String)].collect().toMap
    assert(resalted != b)
  }

  test("pipeline near-dup stage removes documents the exact stage cannot") {
    import org.apache.spark.sql.functions._
    // replicate the pipeline's stages 1-3 (quality, lang, exact dedup),
    // then show stage 4's cluster collapse drops docs whose text is NOT
    // byte-identical to their representative's — reworded near-dups the
    // md5 exact pass is blind to
    val docs = graft.ext.Corpus.gatedDocs(spark, TestSpark.sf001)
    val exact = docs
      .withColumn("h", md5(col("text")))
      .groupBy(col("h"))
      .agg(min(struct(col("doc_id"), col("text"))).as("w"))
      .select(col("w.doc_id").as("doc_id"), col("w.text").as("text"))
    val clusters = graft.ext.Dedup.md5ClusterAssign(exact)
    val dropped = clusters.filter(col("doc_id") =!= col("cluster_id"))
    assert(dropped.count() > 0,
      "near-dup stage must actually remove documents on this corpus")
    // every dropped doc's text differs from its representative's text
    val withTexts = dropped
      .join(exact.select(col("doc_id"), col("text")), Seq("doc_id"))
      .join(exact.select(col("doc_id").as("cluster_id"),
        col("text").as("rep_text")), Seq("cluster_id"))
    assert(withTexts.count() == dropped.count())
    assert(withTexts.filter(col("text") === col("rep_text")).count() == 0,
      "exact duplicates should already be gone before the near-dup stage")
  }
}
