package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Parquet table loaders for the driver testdata (TESTDATA.md).
  *
  * Every query in [[SparkEntry.queries]] receives `(spark, sfDir)` and reads
  * its inputs through here, so filter/column pushdown reaches the parquet
  * scan unimpeded (no caching layer in between — Catalyst sees the scan).
  * Each frame takes its schema from one footer read in the driver
  * ([[ParquetFrame]]), so building it starts no Spark job.
  */
object Tables {
  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame =
    ParquetFrame(spark, Seq(s"$sfDir/$name.parquet"))

  def region(s: SparkSession, d: String): DataFrame    = apply(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = apply(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = apply(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = apply(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = apply(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = apply(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = apply(s, d, "lineitem")
  /** `events.ts` has shipped in two physical layouts across testdata
    * generations: TIMESTAMP(NANOS) (which Spark 4 rejects outright —
    * read as raw long nanos and floor-divide to µs, the same truncation
    * DuckDB's `date_trunc('microseconds', ts)` applies; SURVEY.md §7
    * hard parts) and, since r8, plain TIMESTAMP(MICROS) (reads natively
    * as TIMESTAMP_NTZ). Both normalize to session-TZ-UTC TimestampType
    * at µs precision so every downstream window/watermark/oracle sees
    * identical instants. */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = apply(s, d, "events")
    val tsExpr = raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => "timestamp_micros(ts div 1000)"
      case _ => "cast(ts as timestamp)"
    }
    raw.withColumn("ts", org.apache.spark.sql.functions.expr(tsExpr))
  }
  def documents(s: SparkSession, d: String): DataFrame = apply(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = apply(s, d, "embeddings")
}
