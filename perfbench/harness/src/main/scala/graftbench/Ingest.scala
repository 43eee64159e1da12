package graftbench

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ext.SimSearch
import graft.ops.EvalExtra
import graft.pipeline.StoreCompact

/** The refresh lifecycle: `documents` and `embeddings` are split into
  * `Epochs` epochs by a seeded hash of their ids. Each epoch appends to the
  * BM25 postings store and the label-centroid store and serves from each;
  * then both stores are compacted and served again. One lifecycle is one
  * pass, on fresh store directories. */
final class Ingest(o: Main.Opts) extends Workload(o) {
  val Epochs = 2
  val Stores = Seq("bm25", "centroid")

  private var lifecycle = 0

  private def docs(s: SparkSession) =
    graft.Tables.documents(s, o.data).select("doc_id", "text")
  private def vecs(s: SparkSession) =
    graft.Tables.embeddings(s, o.data).select("vec_id", "label", "embedding")
  private def epoch(df: DataFrame, id: String, e: Int): DataFrame =
    df.filter(pmod(xxhash64(col(id), lit(o.seed)), lit(Epochs)) === e)

  /** A frame that serves a store as a reader would. The centroid store has
    * no read-only serve, so it is served by an empty append: the call
    * writes an empty epoch, and the frame it returns folds the store. */
  private def serve(s: SparkSession, store: String, dir: String): DataFrame =
    store match {
      case "bm25" => EvalExtra.bm25ServeFromStore(s, dir)
      case "centroid" => SimSearch.centroidDelta(vecs(s).limit(0), dir, Epochs)
    }

  /** Appends epoch `e`; the returned frame serves the store as of `e`. */
  private def append(s: SparkSession, store: String, dir: String, e: Int): DataFrame =
    store match {
      case "bm25" => EvalExtra.bm25Delta(epoch(docs(s), "doc_id", e), dir, e)
      case "centroid" => SimSearch.centroidDelta(epoch(vecs(s), "vec_id", e), dir, e)
    }

  /** Times a serve as operation `kind`. The centroid store's empty append
    * is logged as its own `serve_write` operation, so that `kind` times
    * only the fold over the store. */
  private def timedServe(s: SparkSession, trace: Trace, parent: Int, p: Int,
                         kind: String, store: String, dir: String): Unit =
    if (store == "centroid") {
      var served: DataFrame = null
      op(trace, parent, p, "serve_write", store) { served = serve(s, store, dir); null }
      if (served != null) op(trace, parent, p, kind, store)(served)
    } else op(trace, parent, p, kind, store)(serve(s, store, dir))

  private def compact(s: SparkSession, store: String, dir: String): Unit =
    store match {
      case "bm25" => StoreCompact.compactBm25Store(s, dir)
      case "centroid" => StoreCompact.compactCentroidStore(s, dir)
    }

  /** Path -> (length, mtime) of every parquet file under `dir`. */
  private def parquetFiles(dir: File): Map[String, (Long, Long)] =
    Option(dir.listFiles()).getOrElse(Array.empty[File]).flatMap {
      case f if f.isDirectory => parquetFiles(f)
      case f if f.getName.endsWith(".parquet") =>
        Seq(f.getPath -> (f.length, f.lastModified))
      case _ => Nil
    }.toMap

  private def bytes(files: Map[String, (Long, Long)]): Long = files.values.map(_._1).sum

  private def run(s: SparkSession, trace: Trace, passSpan: Int, p: Int,
                  rowsDir: Option[File]): Unit = {
    lifecycle += 1
    val root = new File(o.work, s"stores/life-$lifecycle")
    val dirs = Stores.map(st => st -> new File(root, st).getPath).toMap
    for (e <- 0 until Epochs; st <- Stores) {
      trace.span(s"epoch:$e:$st", passSpan, p) { es =>
        // the append call writes the epoch eagerly; the action on the frame
        // it returns is the serve
        var served: DataFrame = null
        op(trace, es, p, "append", st) { served = append(s, st, dirs(st), e); null }
        op(trace, es, p, "serve", st)(served)
      }
    }
    rowsDir.foreach(d =>
      Stores.foreach(st => capture(d, s"ingest.$st.pre")(serve(s, st, dirs(st)))))
    val pre = parquetFiles(root)
    Stores.foreach { st =>
      op(trace, passSpan, p, "compact", st) { compact(s, st, dirs(st)); null }
    }
    val post = parquetFiles(root)
    // bytes compaction wrote: files that are new or changed since before it
    val rewritten = post.collect { case (f, v) if !pre.get(f).contains(v) => v._1 }.sum
    Stores.foreach(st => timedServe(s, trace, passSpan, p, "serve_compacted", st, dirs(st)))
    rowsDir.foreach(d =>
      Stores.foreach(st => capture(d, s"ingest.$st.post")(serve(s, st, dirs(st)))))
    stores += Map("pass" -> p, "bytes_pre" -> bytes(pre), "files_pre" -> pre.size,
      "bytes_post" -> bytes(post), "files_post" -> post.size,
      "rewrite_bytes" -> rewritten, "rows" -> rows, "input_bytes" -> inputBytes)
    delete(root)
  }

  private def delete(f: File): Unit = {
    Option(f.listFiles()).getOrElse(Array.empty[File]).foreach(delete)
    f.delete(): Unit
  }

  private lazy val inputBytes = Seq("documents", "embeddings")
    .map(t => new File(o.data, s"$t.parquet").length).sum
  private var rows = 0L

  def warm(spark: SparkSession, rowsDir: File): Unit = {
    // the stores' plans call graft's SQL functions, as the query keys do
    graft.functions.VectorFunctions.register(spark)
    // the warm-up lifecycle logs only its failures; its pass index is -1
    rows = docs(spark).count() + vecs(spark).count()
    unlogged(run(spark, new Trace(false), -1, -1, Some(rowsDir)))
  }

  def pass(spark: SparkSession, trace: Trace, passSpan: Int, p: Int): Unit =
    run(spark, trace, passSpan, p, None)
}
