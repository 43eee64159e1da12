package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{Hfs, ParquetFrame}

/** Versioned snapshot table with time-travel reads — the Iceberg/Delta
  * idea (immutable snapshot versions + as-of reads) on plain parquet.
  * The reference's pipeline has exactly this lifecycle at file scale:
  * every run REWRITES the table and publishes only if changed
  * (`update.yml:33-39`); versioned snapshots are the table-scale form
  * that also keeps history readable.
  *
  * Layout: `dir/v0, dir/v1, …` — each a complete immutable parquet
  * snapshot. A commit writes to `dir/.tmp_vN` and RENAMES into place, so
  * a version directory is either absent or complete (readers never see a
  * half-written snapshot; rename is atomic on one filesystem, and on
  * object stores the same contract comes from the committer). Version
  * discovery is a directory listing — O(versions), metadata-only. All
  * filesystem access goes through Hadoop's `FileSystem` ([[graft.Hfs]],
  * r11 #4), so `dir` may be a local path or an HDFS/S3 URI alike.
  *
  * At 100 TB: snapshots share nothing here (full rewrite per commit),
  * which is the right shape for small dims and the wrong one for fact
  * tables — there, [[graft.ops.Scans]]' `sink_commit_partitions`
  * (dynamic partition overwrite of changed partitions) is the
  * complementary piece; a production system combines both (partition
  * manifests per version). Reads as-of v scan ONLY v's files.
  */
object Snapshots {

  /** Highest committed version in `dir`, if any. */
  def latestVersion(dir: String): Option[Int] =
    Hfs.childDirNames(dir)
      .filter(_.matches("v\\d+"))
      .map(_.drop(1).toInt)
      .sorted.lastOption

  /** Commit `df` as the next snapshot version; returns the version id.
    * Write-then-rename: concurrent readers of existing versions are
    * never disturbed, and a crashed commit leaves only a `.tmp_` dir
    * that the next commit ignores. */
  def commit(df: DataFrame, dir: String): Int = {
    val v = latestVersion(dir).map(_ + 1).getOrElse(0)
    val tmp = s"$dir/.tmp_v$v"
    df.write.mode("overwrite").parquet(tmp)
    Hfs.rename(tmp, s"$dir/v$v")
    v
  }

  /** Read the table exactly as committed at `version`. */
  def readAsOf(spark: SparkSession, dir: String, version: Int): DataFrame = {
    val p = s"$dir/v$version"
    if (!Hfs.isDirectory(p))
      sys.error(s"snapshot v$version does not exist under $dir " +
        s"(latest = ${latestVersion(dir).getOrElse(-1)})")
    ParquetFrame(spark, Seq(p))
  }

  /** Read the latest committed snapshot. */
  def readLatest(spark: SparkSession, dir: String): DataFrame =
    readAsOf(spark, dir,
      latestVersion(dir).getOrElse(sys.error(s"no snapshots under $dir")))

  /** Expire old versions, keeping the newest `keepLast` (plus any crashed
    * `.tmp_` dirs are swept regardless). Returns the removed version ids.
    * The latest version can never be vacuumed (`keepLast >= 1` enforced)
    * — time travel shrinks, the current table never disappears. */
  def vacuum(dir: String, keepLast: Int): Seq[Int] = {
    require(keepLast >= 1, s"keepLast must be >= 1, got $keepLast")
    val names = Hfs.childDirNames(dir)
    names.filter(_.startsWith(".tmp_"))
      .foreach(n => Hfs.deleteRecursive(s"$dir/$n"))
    val versions = names.filter(_.matches("v\\d+")).map(_.drop(1).toInt).sorted
    val expire = versions.dropRight(keepLast)
    expire.foreach(v => Hfs.deleteRecursive(s"$dir/v$v"))
    expire
  }
}
