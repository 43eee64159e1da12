package graft

import org.scalatest.funsuite.AnyFunSuite

/** The driver captures only ~2 KB of stdout tail and parses the ONE
  * bench JSON line out of it — r01 lost its whole bench to an oversized
  * line (`parsed: null`). This pins the worst-case line length at build
  * time so key additions can't silently overflow the budget again. */
class BenchLineSpec extends AnyFunSuite {

  test("headline keys all exist in SparkEntry.queries") {
    val missing = Bench.headline.filterNot(SparkEntry.queries.contains)
    assert(missing.isEmpty, s"headline references unknown keys: $missing")
  }

  test("worst-case bench line stays within 1650 bytes (~19% tail headroom)") {
    // mirror Bench's line format exactly, with every value at its widest
    // plausible rendering ("999.99" — a 2dp sweep value under 1000 s)
    val qs = Bench.headline.map(k => "\"" + k + "\":999.99")
      .mkString("{", ",", "}")
    val sf = "/root/testdata/sf0.1"
    val line =
      s"""{"metric":"headline_total","value":99999.99,"unit":"sec","n":${Bench.headline.size},"calib":[999.99,999.99],"calibMax":999.99,"rerun":${Bench.headline.size},"suspect":${Bench.headline.size},"queries":$qs,"sf":"$sf"}"""
    info(s"worst-case line: ${line.length} bytes for ${Bench.headline.size} keys")
    // 1650 (was 1600 through r12): the r13 "suspect":N field plus the
    // lifted-rerun count cost ~14 bytes at their widest; ~19% of the
    // driver's ~2 KB tail remains as headroom
    assert(line.length <= 1650,
      s"bench line budget exceeded: ${line.length} > 1650 bytes — " +
        "drop a thin family duplicate from Bench.headline")
  }

  test("no duplicate headline keys") {
    assert(Bench.headline.distinct.size == Bench.headline.size)
  }

  test("rerun candidates: spiked-window keys only, worst-first, capped") {
    // 40 keys a..; probes [start, @15, @30, end]; window 1 (keys 15-29)
    // spiked on its opening probe, window 2 (keys 30-39) on the end probe
    val keys = (0 until 40).map(i => f"k$i%02d")
    val times = keys.zipWithIndex.map { case (k, i) =>
      k -> (if (i == 16) None else Some(i.toDouble)) // one failed key
    }
    // mild (sub-3x) spikes: the 8-cap holds
    val calibs = Seq(0.3, 0.8, 0.31, 0.7)
    val got = Bench.rerunCandidates(times, calibs)
    // every window's enclosing probes spiked > 1.5x calm; the failed
    // k16 drops out; capped at 8, worst recorded time first
    assert(got == Seq("k39", "k38", "k37", "k36", "k35", "k34", "k33", "k32"))
    // calm sweep: nothing re-runs
    assert(Bench.rerunCandidates(times, Seq(0.3, 0.31, 0.29, 0.3)).isEmpty)
    // spike localized to window 0 only: keys 0-14 eligible (k14 worst)
    val got0 = Bench.rerunCandidates(times, Seq(0.8, 0.3, 0.31, 0.3))
    assert(got0.head == "k14" && got0.size == 8 &&
      got0.forall(_.drop(1).toInt <= 14))
  }

  test("rerun candidates: prior-round record flags keys no probe saw (r13)") {
    val keys = (0 until 40).map(i => f"k$i%02d")
    val times = keys.zipWithIndex.map { case (k, i) =>
      k -> Some(i.toDouble + 1)
    }
    val calmProbes = Seq(0.3, 0.31, 0.29, 0.3)
    // a sweep-long contention tail the probes never localized: k05 and
    // k20 read 2x their prior record — both must re-time even though
    // every probe looks calm (the BENCH_r12 graph_pagerank shape)
    val prior = Map("k05" -> 3.0, "k20" -> 10.0, "k30" -> 31.0)
    val got = Bench.rerunCandidates(times, calmProbes, prior)
    assert(got == Seq("k20", "k05"), s"got $got")
    // k30 read 31 vs prior 31: within 1.5x, not suspect
    // no prior at all: calm sweep re-runs nothing (back-compat)
    assert(Bench.rerunCandidates(times, calmProbes).isEmpty)
  }

  test("rerun candidates: the 8-cap lifts when a probe read >3x calm (r13)") {
    val keys = (0 until 40).map(i => f"k$i%02d")
    val times = keys.zipWithIndex.map { case (k, i) => k -> Some(i.toDouble + 1) }
    // windows 1+2 probes spiked >4x: 25 eligible keys (15..39), and the
    // sweep provably sat in heavy contention -> no cap
    val got = Bench.rerunCandidates(times, Seq(0.3, 0.3, 1.3, 1.3))
    assert(got.size == 25, s"cap must lift under calibMax > 3x calm: ${got.size}")
    // same windows at a mild 2x spike: cap holds at 8
    val capped = Bench.rerunCandidates(times, Seq(0.3, 0.3, 0.65, 0.65))
    assert(capped.size == 8)
  }

  test("parsePrior reads the parsed record, not the escaped stdout tail") {
    // the driver file embeds the raw stdout tail as an ESCAPED string;
    // only the parsed record's unescaped queries object must be read,
    // and null-valued (failed) keys must drop out
    val rec =
      """{"n":12,"tail":"noise \"queries\":{\"bogus\":1.00} more",
        |"parsed":{"metric":"headline_total","value":9.99,
        |"queries":{"q_fast":1.25,"q_failed":null,"q_slow":8.12},
        |"sf":"/x"}}""".stripMargin
    assert(Bench.parsePrior(rec) == Map("q_fast" -> 1.25, "q_slow" -> 8.12))
    assert(Bench.parsePrior("{}").isEmpty)
    // the driver re-emits the record through a pretty-printer: spaces
    // after the colons (the drift that silently disarmed the r13 match)
    val pretty =
      """{"parsed": {"metric": "headline_total",
        |"queries": {"q_fast": 1.25, "q_failed": null, "q_slow": 8.12},
        |"sf": "/x"}}""".stripMargin
    assert(Bench.parsePrior(pretty) ==
      Map("q_fast" -> 1.25, "q_slow" -> 8.12))
  }

  test("loadPrior labels its source; a malformed prior reads as none (r14)") {
    // the prior is load-bearing for record integrity — a disarmed prior
    // (missing file, record-shape drift, unreadable bytes) must be
    // VISIBLE in the published line, not a silent Map.empty
    val dir = java.nio.file.Files.createTempDirectory("graft_prior")
    val good = dir.resolve("BENCH_r13.json")
    java.nio.file.Files.write(good,
      """{"queries":{"q_a":1.50,"q_b":null,"q_c":3.25},"sf":"/x"}"""
        .getBytes("UTF-8"))
    val (src, m) = Bench.loadPrior(Some(good.toString))
    assert(src == "BENCH_r13.json" && m == Map("q_a" -> 1.5, "q_c" -> 3.25))
    // record-shape drift: no queries object anywhere -> none, empty
    val drifted = dir.resolve("BENCH_r99.json")
    java.nio.file.Files.write(drifted,
      """{"per_key":{"q_a":1.50},"sf":"/x"}""".getBytes("UTF-8"))
    assert(Bench.loadPrior(Some(drifted.toString)) == ("none", Map.empty))
    // unreadable path -> none, empty (never throws into the sweep)
    assert(Bench.loadPrior(Some(dir.resolve("absent.json").toString)) ==
      ("none", Map.empty))
  }

  test("SPARK_GRAFT_CONF: trimmed key=value pairs; a value may hold '='") {
    assert(EnvConf.pairs(" spark.sql.autoBroadcastJoinThreshold = -1 ,a=b=c") ==
      Seq("spark.sql.autoBroadcastJoinThreshold" -> "-1", "a" -> "b=c"))
    // an entry without '=' (a typo) is named, never silently dropped
    val e = intercept[IllegalArgumentException](
      EnvConf.pairs("a=b,junk,spark.sql.autoBroadcastJoinThreshold-1"))
    assert(e.getMessage.contains("'junk'"), e.getMessage)
  }
}
