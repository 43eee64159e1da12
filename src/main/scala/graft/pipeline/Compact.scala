package graft.pipeline

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

import graft.ParquetFrame

/** Small-file compaction — the maintenance operation every long-running
  * ingest needs: streaming/incremental sinks accrete many small part
  * files, and at 100 TB the resulting per-file open/footer overhead
  * dominates scan time. Rewrite a parquet directory into
  * ceil(totalBytes / targetBytes) files.
  *
  * Mechanics: size the output from the ACTUAL byte totals (never a fixed
  * file count), rewrite into a sibling temp dir, then swap via two FS
  * renames. The swap is not atomic for concurrent readers — a real lake
  * does this step through a transactional table format's commit protocol
  * (or takes a partition-level lock); the sizing + rewrite shape is the
  * part that carries over unchanged.
  */
object Compact {

  case class Report(filesBefore: Int, filesAfter: Int,
                    bytesBefore: Long, rows: Long)

  /** Compact `dir` (a parquet directory) to ~`targetBytes` per file.
    * Returns a before/after report. No-op (rewrite skipped) when the
    * directory already has no more files than the target implies.
    *
    * Crash recovery (ADVICE r3): a crash between the two swap renames
    * leaves the data at `dir + "_compact_old"` and nothing at `dir`;
    * [[recover]] runs first and (a) renames `_compact_old` back when
    * `dir` is missing — completing the interrupted swap backwards —
    * and (b) deletes any stale `_compact_tmp`/`_compact_old` leftovers,
    * which would otherwise fail this run's renames. Recovery is safe
    * because `_compact_old` is only ever a fully-intact former `dir`,
    * and `_compact_tmp` is only ever a discardable rewrite. */
  def compactParquet(spark: SparkSession, dir: String,
                     targetBytes: Long = 128L * 1024 * 1024): Report = {
    val path = new Path(dir)
    val fs = path.getFileSystem(new Configuration())
    recover(fs, path)
    def parts = fs.listStatus(path)
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
    val before = parts
    val totalBytes = before.map(_.getLen).sum
    val wanted = math.max(1, math.ceil(totalBytes.toDouble / targetBytes).toInt)
    val df = ParquetFrame(spark, Seq(dir))
    if (before.length <= wanted) {
      return Report(before.length, before.length, totalBytes, df.count())
    }
    val tmp = new Path(dir + "_compact_tmp")
    val old = new Path(dir + "_compact_old")
    // coalesce, not repartition: narrowing to fewer files needs no shuffle
    df.coalesce(wanted).write.mode("overwrite").parquet(tmp.toString)
    val rows = ParquetFrame(spark, Seq(tmp.toString)).count()
    require(rows == df.count(),
      s"compaction row-count drift: $rows vs ${df.count()}")
    require(fs.rename(path, old), s"swap failed: $path -> $old")
    require(fs.rename(tmp, path), s"swap failed: $tmp -> $path")
    fs.delete(old, true)
    val after = parts
    Report(before.length, after.length, totalBytes, rows)
  }

  /** Heal the directory state left by a crashed prior compaction: if the
    * data directory is gone but `_compact_old` exists, the crash happened
    * between the two renames — rename it back; then drop any stale
    * `_compact_tmp`/`_compact_old` so this run's own renames can't
    * collide with leftovers. */
  private[pipeline] def recover(fs: org.apache.hadoop.fs.FileSystem,
                                path: Path): Unit = {
    val tmp = new Path(path.toString + "_compact_tmp")
    val old = new Path(path.toString + "_compact_old")
    if (!fs.exists(path) && fs.exists(old))
      require(fs.rename(old, path), s"crash recovery failed: $old -> $path")
    if (fs.exists(tmp)) fs.delete(tmp, true)
    if (fs.exists(old)) fs.delete(old, true)
  }
}
