package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Triangle-counting semantics on hand-built graphs (the oracle proves
  * Spark ≡ DuckDB on the co-purchase graph; this proves the MATH on
  * graphs whose triangle count is known by construction). */
class GraphSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** Count triangles of an explicit canonical (a<b) edge list with the
    * same degree-oriented plan as `graph_triangles`. */
  private def countTriangles(edges: Seq[(Long, Long)]): Long = {
    import spark.implicits._
    val e = edges.toDF("a", "b")
    val deg = e.select(col("a").as("v")).unionAll(e.select(col("b").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("deg"))
    val oriented = e
      .join(deg.withColumnRenamed("v", "a").withColumnRenamed("deg", "da"), "a")
      .join(deg.withColumnRenamed("v", "b").withColumnRenamed("deg", "db"), "b")
      .select(
        when(struct(col("da"), col("a")) < struct(col("db"), col("b")),
          col("a")).otherwise(col("b")).as("src"),
        when(struct(col("da"), col("a")) < struct(col("db"), col("b")),
          col("b")).otherwise(col("a")).as("dst"))
    val wedges = oriented.as("e1").join(oriented.as("e2"),
        col("e1.src") === col("e2.src") && col("e1.dst") < col("e2.dst"))
      .select(col("e1.dst").as("u"), col("e2.dst").as("w"))
    wedges.join(e.select(col("a").as("u"), col("b").as("w")),
        Seq("u", "w"), "left_semi")
      .count()
  }

  test("K4 has 4 triangles; adding an apex over one edge adds 1") {
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
    assert(countTriangles(k4) == 4L)
    assert(countTriangles(k4 :+ (4L, 5L) :+ (3L, 5L)) == 5L)
  }

  test("triangle-free graphs count zero (path, star, 4-cycle)") {
    assert(countTriangles(Seq((1L, 2L), (2L, 3L), (3L, 4L))) == 0L)
    assert(countTriangles(Seq((1L, 2L), (1L, 3L), (1L, 4L), (1L, 5L))) == 0L)
    assert(countTriangles(Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L))) == 0L)
  }

  test("hub skew: star + one closing edge counts 1 regardless of hub degree") {
    // a 50-leaf hub with one leaf-leaf edge — the shape the orientation
    // exists for: the hub contributes ZERO wedge candidates because all
    // its edges orient outward from the leaves (lower degree) toward it
    val star = (2L to 51L).map(i => (1L, i))
    assert(countTriangles(star :+ (2L, 3L)) == 1L)
  }

  test("graph_pagerank: rank mass conserved, bias toward high degree") {
    val rows = SparkEntry.queries("graph_pagerank")(spark, TestSpark.sf0001)
      .collect().map(r => r.getLong(0) -> r.getDouble(1))
    assert(rows.nonEmpty)
    assert(rows.forall(_._2 > 0.0), "every rank strictly positive")
    // undirected graph, no dangling mass: total rank stays ~1 (per-step
    // 12dp pinning drifts at most iters * n * 5e-13)
    val mass = rows.map(_._2).sum
    assert(math.abs(mass - 1.0) < 1e-4, s"rank mass $mass")
    // the top-degree decile must outrank the bottom decile on average
    val pr = graft.Tables.lineitem(spark, TestSpark.sf0001)
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()
    val e = pr.as("x").join(pr.as("y"),
        col("x.o") === col("y.o") && col("x.p") < col("y.p"))
      .select(col("x.p").as("a"), col("y.p").as("b")).distinct()
    val deg = e.select(col("a").as("v")).unionAll(e.select(col("b").as("v")))
      .groupBy("v").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ranked = rows.sortBy { case (n, _) => -deg.getOrElse(n, 0L) }
    val k = ranked.length / 10 max 1
    val top = ranked.take(k).map(_._2).sum / k
    val bot = ranked.takeRight(k).map(_._2).sum / k
    assert(top > bot, s"high-degree mean rank $top !> low-degree $bot")
  }

  test("shuffle mode (no vertex broadcast) is hash-identical at 4 AND 32 partitions") {
    // the 100 TB posture: with a negative autoBroadcastJoinThreshold
    // every vertex-domain relation moves by shuffle join, and the result
    // must be bit-identical to broadcast mode on any partitioning
    def run(parts: String): (Seq[String], Seq[String]) = {
      val ns = spark.newSession()
      ns.conf.set("spark.sql.shuffle.partitions", parts)
      ns.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      (SparkEntry.queries("graph_triangles")(ns, TestSpark.sf0001)
        .collect().map(_.toString).toSeq,
        SparkEntry.queries("graph_pagerank")(ns, TestSpark.sf0001)
          .collect().map(_.toString).toSeq)
    }
    val (triOn, prOn) =
      (SparkEntry.queries("graph_triangles")(spark, TestSpark.sf0001)
        .collect().map(_.toString).toSeq,
        SparkEntry.queries("graph_pagerank")(spark, TestSpark.sf0001)
          .collect().map(_.toString).toSeq)
    val (tri4, pr4) = run("4")
    val (tri32, pr32) = run("32")
    assert(tri4 == triOn && tri32 == triOn, "triangles differ across modes")
    assert(pr4 == prOn && pr32 == prOn, "pagerank differs across modes")
  }

  test("bfs, sssp, and labelprop are identical in broadcast and shuffle modes") {
    for (key <- Seq("graph_bfs", "graph_sssp", "graph_labelprop", "graph_kcore",
        "graph_hits", "graph_modularity", "graph_assortativity",
        "graph_closeness", "graph_ppr", "graph_adamic_adar")) {
      val on = SparkEntry.queries(key)(spark, TestSpark.sf0001)
        .collect().map(_.toString).toSeq
      for (parts <- Seq("4", "32")) {
        val ns = spark.newSession()
        ns.conf.set("spark.sql.shuffle.partitions", parts)
        ns.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        val off = SparkEntry.queries(key)(ns, TestSpark.sf0001)
          .collect().map(_.toString).toSeq
        assert(off == on, s"$key differs in shuffle mode at $parts partitions")
      }
    }
  }

  test("closeness: consistent with the merged-bfs reach; ratio law holds") {
    val close = SparkEntry.queries("graph_closeness")(spark, TestSpark.sf0001)
      .collect()
    assert(close.nonEmpty)
    close.foreach { r =>
      val n = r.getAs[Long]("n_reached"); val t = r.getAs[Long]("total_dist")
      assert(n >= 1 && t >= n - 1, r.toString) // every non-source is >= 1 away
      assert(math.abs(r.getAs[Double]("closeness") - (n - 1).toDouble / t) < 1e-15)
    }
    // the per-source reach unioned over sources covers at least the
    // merged multi-source bfs frontier's node set
    val bfsNodes = SparkEntry.queries("graph_bfs")(spark, TestSpark.sf0001)
      .collect().map(_.getLong(0)).toSet
    val closeSources = close.map(_.getAs[Long]("source")).toSet
    assert(closeSources.subsetOf(bfsNodes))
  }

  test("modularity tallies are consistent: sum(d_sum) = 2m, Q in (-1, 1]") {
    val rows = SparkEntry.queries("graph_modularity")(spark, TestSpark.sf0001)
      .collect()
    val dsum = rows.map(_.getAs[Long]("d_sum")).sum
    val ein = rows.map(_.getAs[Long]("e_in")).sum
    assert(dsum % 2 == 0, "degree sum must be even (handshake lemma)")
    val m = dsum / 2
    assert(ein <= m)
    val q = rows.map(_.getAs[Double]("dq")).sum
    assert(q > -1.0 && q <= 1.0, s"modularity $q outside (-1, 1]")
    rows.foreach { r =>
      val d = r.getAs[Long]("d_sum").toDouble
      assert(r.getAs[Double]("q_num") ==
        4.0 * m * r.getAs[Long]("e_in") - d * d)
    }
  }

  test("kcore: the bounded peel reaches the fixpoint (no survivor still peelable)") {
    val rows = SparkEntry.queries("graph_kcore")(spark, TestSpark.sf0001)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(rows.nonEmpty, "the 60-core of the co-purchase graph is empty")
    // fixpoint: every surviving vertex's degree IN THE PEELED SUBGRAPH is
    // already >= k, so a further round would peel nothing — the fixed
    // round count is the true core on this graph, not a truncation
    rows.foreach { case (v, deg) =>
      assert(deg >= 60L, s"vertex $v survives with degree $deg < k")
    }
  }

  test("sssp distances are never above hop distance x max weight, never below hops") {
    // dist uses weights in [1, 7]: for any reached node,
    // hops <= dist <= 7 * hops ties the weighted relaxation to BFS
    val hops = SparkEntry.queries("graph_bfs")(spark, TestSpark.sf0001)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val dists = SparkEntry.queries("graph_sssp")(spark, TestSpark.sf0001)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(dists.nonEmpty)
    dists.foreach { case (n, dist) =>
      val h = hops(n).toLong // same seeds, same rounds -> same reach set
      assert(dist >= h && dist <= 7L * h || (h == 0L && dist == 0L),
        s"node $n: weighted dist $dist inconsistent with hop dist $h")
    }
  }

  test("jaccard link prediction is identical in broadcast and shuffle modes") {
    val on = SparkEntry.queries("graph_jaccard_neighbors")(
      spark, TestSpark.sf0001).collect().map(_.toString).toSeq
    for (parts <- Seq("4", "32")) {
      val ns = spark.newSession()
      ns.conf.set("spark.sql.shuffle.partitions", parts)
      ns.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val off = SparkEntry.queries("graph_jaccard_neighbors")(
        ns, TestSpark.sf0001).collect().map(_.toString).toSeq
      assert(off == on, s"jaccard differs in shuffle mode at $parts partitions")
    }
  }

  test("shuffle mode plans contain zero BroadcastExchange") {
    // a negative threshold takes the family's broadcast hints off with
    // Spark's own auto-broadcast: the claim is that the PLAN SHAPE works
    // without any driver-side vertex collection at all
    val ns = spark.newSession()
    ns.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    for (k <- Seq("graph_triangles", "graph_pagerank", "graph_bfs",
        "graph_sssp", "graph_jaccard_neighbors")) {
      val p = SparkEntry.queries(k)(ns, TestSpark.sf0001)
        .queryExecution.executedPlan.toString
      assert(!p.contains("BroadcastExchange"), s"$k broadcasts in off mode:\n$p")
    }
  }

  test("graph family: jobs per warm run stay pinned at sf0.001") {
    // a barrier gate for the family's shared edge prep and kernels: an
    // extra cut, a lost broadcast, an extra shuffle or a duplicated subplan
    // moves the (jobs, stages) pair (recipe: JobCensus). pagerank, ppr and
    // hits take the driver-local path here: the gate's one bounded collect
    // and the write.
    val pinned = Map(
      "graph_pagerank" -> (4, 5), "graph_ppr" -> (4, 5),
      "graph_bfs" -> (11, 18), "graph_closeness" -> (11, 20),
      "graph_sssp" -> (11, 18), "graph_labelprop" -> (14, 28),
      "graph_hits" -> (4, 5), "graph_betweenness" -> (23, 40),
      "graph_random_walks" -> (16, 19), "graph_node2vec" -> (16, 20))
    val ns = JobCensus.session()
    val got = pinned.keys.map(k => k -> JobCensus.warmJobs(ns, k)).toMap
    assert(got == pinned)
  }

  test("rank fixpoints' distributed rounds: jobs per warm run stay pinned") {
    // the distributed loops' own barriers in both layouts — the 100 TB
    // paths, unchanged by the local one. A 1 B threshold makes the gate
    // collect one row and decline, so the rounds run in broadcast layout
    // after that one job; a negative threshold shuts the gate without a
    // job and runs the shuffle layout
    val layouts = Seq(
      "1" -> Map("graph_pagerank" -> (16, 24), "graph_ppr" -> (16, 24),
        "graph_hits" -> (22, 40)),
      "-1" -> Map("graph_pagerank" -> (10, 18), "graph_ppr" -> (10, 18),
        "graph_hits" -> (22, 51)))
    for ((threshold, pinned) <- layouts) {
      val ns = JobCensus.session()
      ns.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
      val got = pinned.keys.map(k => k -> JobCensus.warmJobs(ns, k)).toMap
      assert(got == pinned, s"threshold $threshold")
    }
  }

  test("degree distribution on sf0.001 sums to the vertex count") {
    val dist = SparkEntry.queries("graph_degree_dist")(spark, TestSpark.sf0001)
    val tri = SparkEntry.queries("graph_triangles")(spark, TestSpark.sf0001)
      .collect()(0)
    val nVertices = dist.agg(sum(col("n_vertices"))).collect()(0).getLong(0)
    assert(nVertices == tri.getAs[Long]("n_vertices"))
    // edge handshake: sum(deg * n_vertices) = 2 |E|
    val degSum = dist.agg(sum(col("deg") * col("n_vertices")))
      .collect()(0).getLong(0)
    assert(degSum == 2 * tri.getAs[Long]("n_edges"))
  }

  /** HITS math on graphs with hand-computable fixpoints (the oracle
    * proves Spark ≡ DuckDB on the co-purchase graph; this proves the
    * alternation itself). `hitsIterate` takes canonical (a→b) edges. */
  private def hits(edges: Seq[(Long, Long)]): Map[Long, (Double, Double)] = {
    import spark.implicits._
    ext.Graph.hitsIterate(spark, edges.toDF("a", "b"))
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2)))
      .toMap
  }

  test("HITS on a star: center is the pure hub, leaves pure authorities") {
    val m = hits(Seq((1L, 2L), (1L, 3L), (1L, 4L)))
    assert(m(1L) == ((1.0, 0.0)), "center: hub 1, authority 0")
    Seq(2L, 3L, 4L).foreach { v =>
      assert(m(v) == ((0.0, 1.0)), s"leaf $v: hub 0, authority 1")
    }
  }

  test("HITS asymmetric chain: weak hub/authority decay halves per round") {
    // 1→3, 2→3, 3→4: strong hubs 1,2 reinforce authority 3; the 3→4
    // edge decays — auth(4) = 2^-k after k rounds (hand-computed)
    val m = hits(Seq((1L, 3L), (2L, 3L), (3L, 4L)))
    assert(m(1L)._1 == 1.0 && m(2L)._1 == 1.0, "1,2 are the max hubs")
    assert(m(3L)._2 == 1.0, "3 is the max authority")
    assert(m(4L)._2 == math.pow(2.0, -4.0), "auth(4) halves each round")
    assert(m(3L)._1 == math.pow(2.0, -4.0), "hub(3) follows auth(4)")
    assert(m(4L)._1 == 0.0 && m(1L)._2 == 0.0, "no out-edges / in-edges")
  }

  /** The sessions whose rank rows must agree: the default (driver-local),
    * the broadcast-mode distributed rounds (a 1 B threshold: the gate
    * collects one row and declines) and the shuffle-mode distributed
    * rounds (a negative threshold). */
  private lazy val rankModes: Seq[(String, SparkSession)] = {
    def at(threshold: String) = {
      val ns = spark.newSession()
      ns.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
      ns
    }
    Seq("local" -> spark.newSession(), "broadcast" -> at("1"), "shuffle" -> at("-1"))
  }

  /** pinnedRank under both seed rules, then hitsIterate, over `edges` in
    * session `ns`: each result's schema, whether it is a driver-local
    * relation, and its rows by node. */
  private def rankResults(ns: SparkSession, edges: Seq[(Long, Long)])
      : Seq[(StructType, Boolean, Seq[Row])] = {
    import ns.implicits._
    val e = edges.toDF("a", "b")
    Seq(ext.Graph.pinnedRank(ns, e, _ => lit(true)),
      ext.Graph.pinnedRank(ns, e, _ % 10 === 0), ext.Graph.hitsIterate(ns, e))
      .map { df =>
        val local = df.queryExecution.optimizedPlan.collectLeaves()
          .forall(_.isInstanceOf[LocalRelation])
        (df.schema, local, df.collect().toSeq.sortBy(_.getLong(0)))
      }
  }

  test("rank fixpoints: driver-local rows == distributed rows on generated graphs") {
    import org.scalacheck.{Gen, Prop, Test => Check}
    import org.scalacheck.rng.Seed
    // shapes over vertex indexes from 0; a graph is 2-4 of them side by
    // side, relabeled onto shuffled compact ids or ids spread over the
    // whole long range, every edge canonical a < b
    val shapes: Seq[(String, Gen[Seq[(Int, Int)]])] = Seq(
      "star" -> Gen.choose(2, 40).map(k => (1 to k).map(0 -> _)),
      "path" -> Gen.const((0 until 59).map(i => i -> (i + 1))),
      "clique" -> Gen.choose(3, 12).map(k =>
        for (i <- 0 until k; j <- i + 1 until k) yield i -> j),
      "pairs" -> Gen.choose(1, 30).map(k => (0 until k).map(i => 2 * i -> (2 * i + 1))),
      // hubs of very unequal degree sharing leaves, plus a hub-hub edge
      "hubs" -> Gen.choose(20, 60).map(k =>
        (3 to k + 2).map(0 -> _) ++ (3 to 7).map(1 -> _) ++ Seq(0 -> 1, 1 -> 2)))
    val graphs = for {
      picked <- Gen.choose(2, 4).flatMap(Gen.pick(_, shapes))
      parts <- Gen.sequence[Seq[Seq[(Int, Int)]], Seq[(Int, Int)]](picked.map(_._2))
      wide <- Gen.oneOf(false, true)
      seed <- Gen.long
    } yield {
      val rnd = new scala.util.Random(seed)
      var base = 0
      val local = parts.flatMap { p =>
        val shifted = p.map { case (i, j) => (base + i, base + j) }
        base += p.flatMap { case (i, j) => Seq(i, j) }.max + 1
        shifted
      }
      val ids = rnd.shuffle(
        if (wide) Iterator.continually(rnd.nextLong()).distinct.take(base).toVector
        else (1L to base.toLong).toVector)
      val edges = local.map { case (i, j) => (ids(i) min ids(j), ids(i) max ids(j)) }
      (picked.map(_._1).toSet, wide, rnd.shuffle(edges.distinct))
    }
    val seen = scala.collection.mutable.Set.empty[String]
    val prop = Prop.forAllNoShrink(graphs) { case (kinds, wide, edges) =>
      seen ++= kinds + (if (wide) "wide ids" else "compact ids")
      val byMode = rankModes.map { case (m, ns) => m -> rankResults(ns, edges) }
      val localPath = byMode.map { case (m, r) => m -> r.map(_._2).distinct }
      localPath == Seq("local" -> Seq(true), "broadcast" -> Seq(false),
        "shuffle" -> Seq(false)) &&
        byMode.map(_._2.map(r => (r._1, r._3))).distinct.size == 1
    }
    // few samples: each runs the distributed rounds in two sessions
    val res = Check.check(Check.Parameters.default
      .withMinSuccessfulTests(5).withInitialSeed(Seed(7L)), prop)
    assert(res.passed, res.status)
    assert(seen == shapes.map(_._1).toSet ++ Set("wide ids", "compact ids"),
      s"the seed must cover every shape and both id layouts; saw $seen")
  }

  test("rank fixpoints: an empty edge list gives zero rows on every path") {
    for ((m, ns) <- rankModes; (_, _, rows) <- rankResults(ns, Nil))
      assert(rows.isEmpty, s"$m: $rows")
  }

  test("driver-local gate: an estimate at the threshold goes local, one edge more does not") {
    // the one bounded collect behind every driver-local kernel. A bigint
    // (a, b) row is 24 B to Spark's size estimate, so a 240 B threshold
    // caps it at 10 rows; one range partition makes the collect one job.
    // A negative threshold, the shuffle layout, never collects.
    def edges(ns: SparkSession, n: Long) = ns.range(1, n + 1, 1, 1)
      .select(col("id").as("a"), (col("id") + 1).as("b"))
    def gate(ns: SparkSession, n: Long) = {
      var got: Option[Array[Row]] = None
      val (jobs, _) = obs.JobCensus.jobsOf(ns, s"gate-$n") {
        got = ext.DriverRounds.collectBounded(ns, edges(ns, n))
      }
      (got.map(_.toSeq), jobs)
    }
    val ns = spark.newSession()
    ns.conf.set("spark.sql.autoBroadcastJoinThreshold", (10 * 24).toString)
    assert(gate(ns, 10) == ((Some((1L to 10L).map(i => Row(i, i + 1))), 1)),
      "10 rows = 240 B at a 240 B threshold: collected, in one job")
    assert(gate(ns, 11) == ((None, 1)), "11 rows = 264 B over it")
    ns.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    assert(gate(ns, 0) == ((None, 0)),
      "a negative threshold disables the path without a job, even for no rows")
  }
}
