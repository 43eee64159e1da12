package graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** Parquet frames whose schema comes from one footer read in the driver.
  *
  * `spark.read.parquet(path)` infers the data schema with a one-task Spark
  * job. With `mergeSchema` off, that job reads one footer: the first data
  * file by full path string. This object lists the paths through Hadoop's
  * FileSystem, reads that same footer with Spark's own reader and
  * converter (built from the session's current SQL conf, so settings such
  * as `spark.sql.legacy.parquet.nanosAsLong` apply), and passes the result
  * as the reader's schema. The frame and its plans are the ones inference
  * gives, without the job. Nothing is cached: each frame reads its footer
  * afresh, so a rewritten file is never served with a stale schema. */
object ParquetFrame {

  /** `spark.read.parquet(paths: _*)`, with `basePath` when given (partition
    * discovery then adds the partition columns below it), built without a
    * Spark job. Above Spark's parallel-listing threshold
    * (`spark.sql.sources.parallelPartitionDiscovery.threshold`, 32 paths)
    * the file index still lists in a job of its own, as it does for any
    * read.
    *
    * @throws IllegalArgumentException if no data file lies under `paths` */
  def apply(spark: SparkSession, paths: Seq[String],
            basePath: Option[String] = None): DataFrame = {
    val dataSchema = schema(spark, paths).getOrElse(throw new IllegalArgumentException(
      s"no parquet data file under ${paths.mkString(", ")} to read a schema from"))
    val reader = spark.read.schema(dataSchema)
    basePath.fold(reader)(reader.option("basePath", _)).parquet(paths: _*)
  }

  /** The data schema Spark's inference gives `paths` with `mergeSchema`
    * off, read from the footer of their first data file by full path
    * string; None when they hold no data file. */
  def schema(spark: SparkSession, paths: Seq[String]): Option[StructType] = {
    val conf = spark.sessionState.newHadoopConf()
    val files = paths.flatMap(p => dataFiles(new Path(p), conf))
    if (files.isEmpty) None
    else {
      val first = files.minBy(_.getPath.toString)
      val footer = ParquetFooterReader.readFooter(
        HadoopInputFile.fromStatus(first, conf), ParquetMetadataConverter.SKIP_ROW_GROUPS)
      Some(ParquetFileFormat.readSchemaFromFooter(new Footer(first.getPath, footer),
        new ParquetToSparkSchemaConverter(spark.sessionState.conf)))
    }
  }

  /** The files under `p`, recursively, that Spark's file index lists as
    * data: names starting with `_` or `.` (`_SUCCESS`, `_temporary`,
    * checksum files) are skipped. */
  private def dataFiles(p: Path, conf: Configuration): Seq[FileStatus] =
    p.getFileSystem(conf).listStatus(p).toSeq
      .filterNot { st => val n = st.getPath.getName; n.startsWith("_") || n.startsWith(".") }
      .flatMap(st => if (st.isDirectory) dataFiles(st.getPath, conf) else Seq(st))
}
