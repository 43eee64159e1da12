package graftbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One benchmark run: set up (session start, warm-up pass, rehearsal),
  * then run timed passes of one workload for a fixed number of seconds,
  * and write the raw record as JSON. `perfbench/run.py` builds this, runs
  * it and turns the record into metrics.
  *
  * Arguments: `--workload <name> --seed <n> --seconds <s> --trace <0|1>
  * --data <dir> --work <dir> --out <file> --cores <n>`, and `--keys k1,k2`
  * to replace a key workload's list (used when pinning). */
object Main {
  final case class Opts(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, data: String, work: String,
                        out: String, cores: Int, keys: Option[Seq[String]])

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(m("workload"), m("seed").toLong, m("seconds").toDouble,
      m.getOrElse("trace", "0") == "1", m("data"), m("work"), m("out"),
      m("cores").toInt, m.get("keys").map(_.split(",").toSeq.filter(_.nonEmpty)))
  }

  def session(o: Opts): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${o.cores}]")
      .config("spark.sql.shuffle.partitions", o.cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** `graft.Bench`'s fixed load probe: synthetic CPU work whose time shows
    * how loaded the machine was around the measurement. */
  def probe(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(500000000L).selectExpr("sum(id)").collect()
    (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val trace = new Trace(o.trace)
    val workload = Workload(o.workload, o)
    val rowsDir = new File(o.work, "rows")
    rowsDir.mkdirs()

    // set-up: session start, the warm-up pass, which also keeps the result
    // rows for the correctness check, and the workload's rehearsal if any
    val t0 = System.nanoTime()
    val spark = session(o)
    val t1 = System.nanoTime()
    workload.warm(spark, rowsDir)
    workload.rehearse(spark)
    val t2 = System.nanoTime()
    trace.attach(spark)

    // timed passes, one after another, until the run's seconds are used
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    val probeBefore = probe(spark)
    trace.span(s"workload:${o.workload}", -1, -1) { root =>
      val measureStart = System.nanoTime()
      while (passes.isEmpty || (System.nanoTime() - measureStart) / 1e9 < o.seconds) {
        val p = passes.size
        val (_, s) = trace.span("pass", root, p)(id => workload.pass(spark, trace, id, p))
        passes += Map("pass" -> p, "s" -> s)
      }
    }
    val probeAfter = probe(spark)
    trace.drain()

    val rec = Map(
      "workload" -> o.workload, "seed" -> o.seed, "cores" -> o.cores,
      "trace" -> o.trace, "session_s" -> (t1 - t0) / 1e9,
      "warm_s" -> (t2 - t1) / 1e9,
      "probe_before_s" -> probeBefore, "probe_after_s" -> probeAfter,
      "passes" -> passes.toList, "ops" -> workload.ops.toList, "stores" -> workload.stores.toList,
      "warm_failures" -> workload.warmFailures.toList,
      "rows_dir" -> rowsDir.getPath) ++ trace.record
    new ObjectMapper().registerModule(DefaultScalaModule).writeValue(new File(o.out), rec)
    spark.stop()
  }
}

/** A workload: a warm-up pass and timed passes that log one record per
  * operation (a query key, or a store append / serve / compaction). */
abstract class Workload(o: Main.Opts) {
  val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
  val stores = mutable.ArrayBuffer.empty[Map[String, Any]]
  val warmFailures = mutable.ArrayBuffer.empty[String]

  def warm(spark: SparkSession, rowsDir: File): Unit
  def pass(spark: SparkSession, trace: Trace, passSpan: Int, p: Int): Unit

  /** Untimed work after the warm-up, for a workload whose first timed
    * passes would otherwise still be on the warm-up curve. */
  def rehearse(spark: SparkSession): Unit = ()

  /** Runs `body`, then drops the operation and store records it logged,
    * keeping only their failures (as warm-up failures). */
  protected def unlogged(body: => Unit): Unit = {
    val (o0, s0) = (ops.size, stores.size)
    body
    ops.drop(o0).foreach { r =>
      r("error").asInstanceOf[Option[String]].foreach(e =>
        warmFailures += s"${r("kind")}:${r("name")}: $e")
    }
    ops.remove(o0, ops.size - o0)
    stores.remove(s0, stores.size - s0)
  }

  protected def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Runs `build` (the library call, including any work it does eagerly
    * while building its plan) and then the final action on the frame it
    * returns, logging both times under one operation span. */
  protected def op(trace: Trace, passSpan: Int, p: Int, kind: String,
                   name: String)(build: => DataFrame): Unit = {
    var buildS, actionS = 0.0
    var err: Option[String] = None
    val (_, total) = trace.span(s"$kind:$name", passSpan, p) { id =>
      try {
        val (df, b) = trace.span("build", id, p)(_ => build)
        buildS = b
        if (df != null) actionS = trace.span("action", id, p)(_ => noop(df))._2
      } catch {
        case t: Throwable =>
          err = Some(s"${t.getClass.getName}: ${String.valueOf(t.getMessage).take(300)}")
      }
    }
    ops += Map("pass" -> p, "kind" -> kind, "name" -> name, "s" -> total,
      "build_s" -> buildS, "action_s" -> actionS, "ok" -> err.isEmpty,
      "error" -> err)
  }

  /** Collects `df` as JSON rows into `<dir>/<name>.jsonl`; a failure is
    * recorded instead of thrown. */
  protected def capture(dir: File, name: String)(df: => DataFrame): Unit =
    try {
      val rows = df.toJSON.collect()
      Files.write(new File(dir, s"$name.jsonl").toPath,
        rows.mkString("", "\n", if (rows.isEmpty) "" else "\n").getBytes(UTF_8))
    } catch {
      case t: Throwable =>
        warmFailures += s"$name: ${t.getClass.getName}: ${String.valueOf(t.getMessage).take(300)}"
    }
}

object Workload {
  // Round-structured keys: fixpoint loops that run eagerly while the plan
  // is built, with lineage cuts and broadcast builds in every round
  // (PageRank, hub/authority iteration, kNN edges into connected
  // components). Their latencies lie apart (about 3 : 2 : 1.4), so the
  // median latency of a run is the middle key's, not a flip between two.
  val iterative: Seq[String] = Seq("graph_pagerank", "graph_hits", "dedup_semantic")

  def apply(name: String, o: Main.Opts): Workload = name match {
    case "iterative" => new Keys(o, o.keys.getOrElse(iterative))
    case "ingest" => new Ingest(o)
    case other => sys.error(s"unknown workload $other")
  }
}

/** A closed loop over registered query keys, one after another, in an
  * order drawn from the seed for each pass. */
final class Keys(o: Main.Opts, keys: Seq[String]) extends Workload(o) {
  private def order(p: Int): Seq[String] =
    new scala.util.Random(o.seed * 7919L + p).shuffle(keys)

  private def query(k: String) = graft.SparkEntry.queries(k)

  def warm(spark: SparkSession, rowsDir: File): Unit =
    order(-1).foreach(k => capture(rowsDir, k)(query(k)(spark, o.data)))

  def pass(spark: SparkSession, trace: Trace, passSpan: Int, p: Int): Unit =
    order(p).foreach(k => op(trace, passSpan, p, "key", k)(query(k)(spark, o.data)))

  /** A second pass, in the order of pass -2. After one cold pass the first
    * timed pass was still 20-30% slower than later ones; running every key
    * once more lets the JIT compile their hot code before timing starts. */
  override def rehearse(spark: SparkSession): Unit =
    unlogged(pass(spark, new Trace(false), -1, -2))
}
