package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** SURVEY.md §2.A — scans, sources, sinks.
  *
  * The reference's sources are a glob text scan (`fetch_data.py:285-297`),
  * fixed-schema JSON records (`fetch_data.py:313-314`), a per-entity JSON
  * sink + nested manifest (`fetch_data.py:312-319`), and commit-if-changed
  * publishing (`update.yml:33-39`). Rebound onto the driver testdata per
  * FIXTURES.md; the true text-file list scan is exercised by
  * `graft.pipeline.Refresh` over the golden fixtures.
  */
object Scans extends graft.QueryModule {

  /** One cached isolated session per (parent session, key): the
    * conf-isolated keys (`sink_bucketed_window`, `src_agg_pushdown`)
    * need a child session whose confs the parent must never see — but a
    * child per CALL would accumulate sessions across Verify/Bench/spec
    * sweeps (ADVICE r6). The cache bounds that to one child per parent
    * per key; the child's conf is set once at creation and, per the
    * `join_range_rewritten` lesson, travels with every plan later
    * derived from the returned DataFrame. Entries whose parent context
    * has stopped are purged on each lookup (ADVICE r7): bounded per
    * live parent AND across parents — a stream of short-lived
    * `newSession()` parents (one per spec) no longer pins dead
    * sessions for the JVM lifetime. */
  private val isoSessions =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), SparkSession]()

  private def isolatedSession(s: SparkSession, key: String)
                             (init: SparkSession => Unit): SparkSession = {
    isoSessions.keySet.removeIf(k => k._1.sparkContext.isStopped)
    isoSessions.computeIfAbsent((s, key), _ => {
      val ns = s.newSession(); init(ns); ns
    })
  }

  /** Glob scan + per-line normalize: list name from file name, item
    * upper/trim, blanks dropped (`fetch_data.py:285-297`). */
  private def srcListScan(spark: SparkSession, sfDir: String): DataFrame =
    Tables.part(spark, sfDir)
      .select(
        regexp_extract(input_file_name(), "([a-z]+)\\.parquet", 1).as("list_name"),
        upper(trim(col("p_name"))).as("item"),
        col("p_partkey"))
      .filter(length(trim(col("p_name"))) > 0)
      .orderBy("p_partkey")

  /** Schema-on-read JSON records (`fetch_data.py:313-314` written; read
    * back with a fixed schema, PERMISSIVE). */
  private def srcJsonRecords(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .select(col("event_id"),
        from_json(col("props"),
          org.apache.spark.sql.types.StructType.fromDDL("k INT")).getField("k").as("k"))
      .orderBy("event_id")

  /** Per-entity JSON sink, partitioned by key, full overwrite
    * (`fetch_data.py:312-314`) — written then read back schema-checked. */
  private def sinkJsonPerEntity(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = graft.Scratch.dir("sink_json_per_entity")
    Tables.customer(spark, sfDir)
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"), col("c_mktsegment"))
      .write.mode("overwrite").partitionBy("c_mktsegment").json(dir)
    spark.read
      .schema("c_custkey BIGINT, c_name STRING, c_acctbal DOUBLE, c_mktsegment STRING")
      .json(dir)
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"), col("c_mktsegment"))
      .orderBy("c_custkey")
  }

  /** Nested manifest doc: `{"lists": {list -> [member...]}}` as one JSON
    * row (`fetch_data.py:318-319`); sort_array for a stable hash. */
  private def sinkManifest(spark: SparkSession, sfDir: String): DataFrame =
    Tables.customer(spark, sfDir)
      .groupBy(col("c_mktsegment"))
      .agg(sort_array(collect_list(col("c_name"))).as("members"))
      .agg(to_json(struct(
        map_from_entries(sort_array(collect_list(struct(col("c_mktsegment"), col("members")))))
          .as("lists"))).as("manifest"))

  /** Partitioned parquet layout + pruned read-back [N] (the 100 TB at-rest
    * story, SURVEY §4 partition pruning): write facts partitioned by a
    * derived date key, then scan exactly one partition — `.explain` shows
    * PartitionFilters, not a full scan. */
  private def sinkPartitionedScan(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = graft.Scratch.dir("orders_partitioned")
    Tables.orders(spark, sfDir)
      .withColumn("yr", year(col("o_orderdate")))
      .write.mode("overwrite").partitionBy("yr").parquet(dir)
    spark.read.parquet(dir)
      .filter(col("yr") === 1998)
      .select(col("o_orderkey"), col("o_totalprice"), col("yr").cast("int").as("yr"))
      .orderBy("o_orderkey")
  }

  /** Dynamic partition pruning [N]: the partition filter is NOT a
    * literal — it arrives at runtime from the dim side of a join (two
    * region rows → two years), and Spark still skips the other
    * partitions' files: the scan's PartitionFilters carries a
    * `dynamicpruning` subquery fed by the broadcast (PlanShapeSpec pins
    * this). This is the at-rest story for star joins at 100 TB: static
    * pruning only helps literal predicates; every "fact JOIN filtered
    * dim" query needs DPP to touch just the matching partitions. */
  private def srcDppPruned(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = graft.Scratch.dir("orders_dpp")
    Tables.orders(spark, sfDir)
      .withColumn("yr", year(col("o_orderdate")))
      .write.mode("overwrite").partitionBy("yr").parquet(dir)
    // a non-foldable dim: years derived from region rows at runtime
    val dimYears = Tables.region(spark, sfDir)
      .filter(col("r_name").isin("ASIA", "EUROPE"))
      .select((lit(1995) + col("r_regionkey")).cast("int").as("yr"))
    spark.read.parquet(dir)
      .join(broadcast(dimYears), Seq("yr"))
      .groupBy(col("yr").cast("int").as("yr"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
          .as("total_price"))
      .orderBy("yr")
  }

  /** Bucketed-at-rest layout + co-located join [N] (the 100 TB
    * co-location story): both fact tables written bucketBy(8) on the
    * join key, then joined — the sort-merge join reads bucket-aligned
    * files with NO exchange on either side (verify in explain()). */
  private def sinkBucketedJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val base = new java.io.File(graft.Scratch.dir("bucketed")).getAbsolutePath
    // project to the served columns BEFORE the bucketed write: the
    // at-rest table carries only what downstream reads (half the bytes)
    Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_totalprice"))
      .write.format("parquet")
      .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .option("path", s"$base/orders").mode("overwrite")
      .saveAsTable("graft_bucketed_orders")
    Tables.lineitem(spark, sfDir)
      .groupBy(col("l_orderkey"))
      .agg(sum(col("l_quantity")).as("qty")).write.format("parquet")
      .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .option("path", s"$base/lineitem_agg").mode("overwrite")
      .saveAsTable("graft_bucketed_lineitem")
    // merge hint: at this SF the dim side fits a broadcast, which would
    // hide the point — a sort-merge join over the aligned buckets runs
    // with NO exchange and NO sort on either side
    spark.table("graft_bucketed_orders").hint("merge")
      .join(spark.table("graft_bucketed_lineitem"),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_orderkey"), col("o_totalprice"), bround(col("qty"), 2).as("qty"))
      .orderBy("o_orderkey")
  }

  /** Bucketed-at-rest layout + SHUFFLE-FREE WINDOW [N]: windows are the
    * other operator family (besides joins) whose exchange dominates at
    * scale — every `partitionBy(user_id)` window hash-shuffles the full
    * table. Written bucketBy(user_id) + sortBy(user_id, ts, event_id)
    * with one file per bucket (the pre-write repartition uses the SAME
    * hash as the bucketing, so task == bucket), the scan itself reports
    * hash partitioning AND the window's required sort order: the
    * window runs with NO Exchange and NO Sort below it — the 100 TB
    * daily-window workload served straight from layout.
    * PlanShapeSpec pins the plan shape. */
  private def sinkBucketedWindow(s0: SparkSession, sfDir: String): DataFrame = {
    val base = new java.io.File(graft.Scratch.dir("bucketed_win")).getAbsolutePath
    // Spark ≥3.0 stops reporting the bucket files' sortBy order by
    // default (multi-file buckets would need a merge-sort read); with
    // exactly one file per bucket the order IS valid, so opt back in on
    // an isolated CACHED session ([[isolatedSession]] — the parent never
    // sees the conf, and sweeps reuse one child instead of leaking one
    // per call). The table write below runs eagerly at construction BY
    // DESIGN: this key demonstrates the bucketed SINK, so Verify/Bench
    // deliberately measure write + layout-served read as one unit.
    val spark = isolatedSession(s0, "sink_bucketed_window") {
      _.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
    }
    Tables.events(spark, sfDir)
      .select(col("user_id"), col("ts"), col("event_id"),
        col("value").cast("decimal(12,2)").as("v"))
      .repartition(8, col("user_id"))
      .write.format("parquet")
      .bucketBy(8, "user_id").sortBy("user_id", "ts", "event_id")
      .option("path", s"$base/events").mode("overwrite")
      .saveAsTable("graft_bucketed_events")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    spark.table("graft_bucketed_events")
      .withColumn("rn", row_number().over(w))
      .withColumn("run_sum",
        sum(col("v")).over(w.rowsBetween(
          org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow))
          .cast("double"))
      .filter(col("rn") <= 3)
      .select(col("user_id"), col("event_id"), col("rn"), col("run_sum"))
      .orderBy("user_id", "rn")
  }

  /** CSV interchange roundtrip [N]: header'd CSV written then read back
    * under an EXPLICIT schema (inference off — schema drift at 100 TB is
    * an outage, not a convenience). Doubles survive exactly: the writer
    * emits shortest-round-trip decimal strings. */
  private def srcCsvRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = graft.Scratch.dir("supplier_csv")
    Tables.supplier(spark, sfDir)
      .write.mode("overwrite").option("header", "true").csv(dir)
    spark.read
      .schema("s_suppkey BIGINT, s_name STRING, s_nationkey INT, s_acctbal DOUBLE")
      .option("header", "true").csv(dir)
      .orderBy("s_suppkey")
  }

  /** ORC columnar roundtrip [N]: the second columnar at-rest format;
    * read-back filter + projection push into the ORC scan the same way
    * they do for parquet (`.explain` shows the pushed predicate). */
  private def srcOrcRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = graft.Scratch.dir("part_orc")
    Tables.part(spark, sfDir).write.mode("overwrite").orc(dir)
    spark.read.orc(dir)
      .filter(col("p_size") >= 25)
      .select(col("p_partkey"), col("p_name"), col("p_size"), col("p_retailprice"))
      .orderBy("p_partkey")
  }

  /** XML roundtrip [N] — Spark 4's built-in XML data source (the format
    * land registries / feeds still ship): write customers as one
    * `<customer>` element per row, read back with an EXPLICIT schema
    * (inference off, the same at-rest discipline as the CSV key). The
    * hash check proves element encode/decode — including '#' in names
    * and double-typed balances — is lossless; Double.toString's
    * shortest-repr round-trip guarantees the latter. */
  private def srcXmlRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = graft.Scratch.dir("customer_xml")
    Tables.customer(spark, sfDir)
      .write.mode("overwrite").format("xml")
      .option("rootTag", "customers").option("rowTag", "customer")
      .save(dir)
    spark.read.format("xml")
      .schema("c_custkey BIGINT, c_name STRING, c_nationkey INT, " +
        "c_acctbal DOUBLE, c_mktsegment STRING")
      .option("rowTag", "customer").load(dir)
      .orderBy("c_custkey")
  }

  /** Schema evolution at the lake boundary [N]: two parquet generations
    * of the same table — columns added and dropped between them — read
    * back as ONE frame via `mergeSchema` (absent columns null-fill per
    * file). Inference is still off per-file; the merged schema is the
    * union, which is exactly what a long-lived 100 TB landing zone
    * accumulates. Null ordering pinned explicitly: Spark defaults ASC
    * NULLS FIRST, DuckDB NULLS LAST — an unpinned sort would
    * hash-mismatch even with identical rows. */
  private def srcMergeSchema(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = graft.Scratch.dir("evolving_schema")
    val p = Tables.part(spark, sfDir)
    p.select(col("p_partkey"), col("p_name"))
      .write.mode("overwrite").parquet(s"$dir/v1")
    p.select(col("p_partkey"), col("p_size"), col("p_retailprice"))
      .write.mode("overwrite").parquet(s"$dir/v2")
    spark.read.option("mergeSchema", "true").parquet(s"$dir/v1", s"$dir/v2")
      .select(col("p_partkey"), col("p_name"), col("p_size"), col("p_retailprice"))
      .orderBy(col("p_partkey"), col("p_name").asc_nulls_first)
  }

  /** Corrupt-record containment at the ingest boundary [N]: a landing
    * zone at 100 TB always contains some malformed rows; the job must
    * quarantine them (PERMISSIVE + `_corrupt_record`), never fail the
    * scan (FAILFAST) or silently drop them (DROPMALFORMED). A
    * deterministic 1-in-97 subset of rendered JSON lines is truncated,
    * then the PERMISSIVE read buckets rows into their type or the
    * quarantine; counts are oracle-checked against the same modular
    * rule. */
  private def srcJsonCorrupt(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = graft.Scratch.dir("json_corrupt")
    val rendered = Tables.events(spark, sfDir)
      .select(col("event_id"), col("event_type"),
        concat(lit("{\"event_id\": "), col("event_id"),
          lit(", \"event_type\": \""), col("event_type"), lit("\"}")).as("line"))
      .select(when(col("event_id") % 97 === 0,
          // truncate: drop the closing brace -> malformed JSON
          expr("substring(line, 1, length(line) - 1)"))
        .otherwise(col("line")).as("value"))
    rendered.write.mode("overwrite").text(dir)
    spark.read
      .schema("event_id BIGINT, event_type STRING, _corrupt_record STRING")
      .json(dir)
      .groupBy(coalesce(col("event_type"), lit("_corrupt")).as("bucket"))
      .agg(count(lit(1)).as("n"))
      .orderBy("bucket")
  }

  /** Publish-on-change: emit only rows differing from the previous
    * snapshot (`update.yml:33-39`) — EXCEPT of new vs old. */
  private def sinkCommitIfChanged(spark: SparkSession, sfDir: String): DataFrame = {
    val cur = Tables.orders(spark, sfDir).select(col("o_orderkey"), col("o_totalprice"))
    val prev = cur.filter(col("o_orderkey") % 7 =!= 0)
    cur.except(prev).orderBy("o_orderkey")
  }

  /** Commit-if-changed APPLIED at table scale (VERDICT r3 #5): dynamic
    * partition overwrite of only the partitions whose content changed —
    * the 100 TB form of `update.yml:33-39`'s publish-on-change.
    *
    * A previous snapshot (stale o_totalprice in two year-partitions, all
    * rows tagged src='prev') is published partitioned by `yr`; the delta
    * vs current is computed over the DATA columns only (provenance
    * excluded) with EXCEPT, reduced to a changed-partition list — that
    * list is partition METADATA, driver-scale by design, same class as a
    * metastore listing — and the rewrite publishes current rows for JUST
    * those partitions with `partitionOverwriteMode=dynamic`, which
    * replaces only the partitions present in the written data.
    *
    * The read-back result proves the semantics three ways: stale values
    * in changed partitions are healed (no-op write would keep them),
    * unchanged partitions still carry src='prev' (a full overwrite would
    * stamp 'cur' everywhere), and PartitionCommitSpec asserts the
    * unchanged partitions' files are byte-for-byte untouched on disk. */
  private def sinkCommitPartitions(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = graft.Scratch.dir("orders_partition_commit")
    val cur = Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), year(col("o_orderdate")).cast("int").as("yr"),
        col("o_totalprice"))
    val prev = cur.withColumn("o_totalprice",
        when(col("yr").isin(1995, 1997) && col("o_orderkey") % 5 === 0,
          col("o_totalprice") + 1000).otherwise(col("o_totalprice")))
      .withColumn("src", lit("prev"))
    prev.write.mode("overwrite").partitionBy("yr").parquet(dir)
    val prevOnDisk = spark.read.parquet(dir)
    val changedYears = cur
      .except(prevOnDisk.select(col("o_orderkey"), col("yr"), col("o_totalprice")))
      .select(col("yr")).distinct()
      .collect().map(_.getInt(0)).toSeq
    cur.withColumn("src", lit("cur"))
      .filter(col("yr").isin(changedYears: _*))
      .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy("yr").parquet(dir)
    spark.read.parquet(dir)
      .select(col("o_orderkey"), col("yr"), col("o_totalprice"), col("src"))
      .orderBy("o_orderkey")
  }

  /** Sorted at-rest layout + min/max data skipping [N] — the third leg of
    * the 100 TB layout story next to partitioning (coarse pruning) and
    * bucketing (co-location): `repartitionByRange` on the filter column
    * clusters each value range into ONE output file and
    * `sortWithinPartitions` orders rows inside it, so every parquet
    * row-group's min/max stats span a narrow slice and a range predicate
    * on the read-back skips all but the matching files/row-groups (the
    * pushed filter is in `.explain`; an unsorted layout scatters every
    * value across every row-group and the same stats skip nothing). */
  private def sinkSortedScan(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = graft.Scratch.dir("lineitem_sorted")
    Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_suppkey"),
        col("l_partkey"), col("l_quantity"), col("l_extendedprice"), col("l_shipdate"))
      .repartitionByRange(8, col("l_shipdate"))
      .sortWithinPartitions(col("l_shipdate"))
      .write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir)
      .filter(col("l_shipdate").between("1996-01-01", "1996-03-31"))
      .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_suppkey"),
        col("l_partkey"), col("l_quantity"), col("l_extendedprice"))
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"), col("l_shipdate"))
  }

  /** Parquet BLOOM-FILTER point-lookup pruning [N] — the format-level
    * companion to the min/max zone map: range clustering makes
    * min/max stats useless for a point predicate on an UNCLUSTERED
    * high-cardinality key, which is exactly where parquet's per-row-
    * group split-block bloom filters (parquet-format BloomFilter.md)
    * prune instead. Written via the standard
    * `parquet.bloom.filter.enabled#col` write option, probed with an
    * IN-list of mostly-absent suppliers; the reader consults the bloom
    * before decoding any page. The residual filter keeps the result
    * exact, so the key hash-matches a plain filtered scan;
    * BloomParquetSpec asserts the filters actually exist in the
    * written footers. */
  private def sinkBloomScan(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = graft.Scratch.dir("lineitem_bloom")
    Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_suppkey"),
        col("l_quantity"))
      .repartitionByRange(8, col("l_orderkey")) // clustered on the WRONG key
      .write.mode("overwrite")
      .option("parquet.bloom.filter.enabled#l_suppkey", "true")
      .option("parquet.bloom.filter.expected.ndv#l_suppkey", "20000")
      // parquet-mr drops the bloom when a column stays fully
      // dictionary-encoded (the dictionary already is an exact filter);
      // at production NDV the dictionary overflows and the bloom takes
      // over — disabling the dictionary here exercises that regime
      .option("parquet.enable.dictionary#l_suppkey", "false")
      .parquet(dir)
    spark.read.parquet(dir)
      .filter(col("l_suppkey").isin(7L, 77L, 777L))
      .orderBy("l_orderkey", "l_linenumber")
  }

  /** Zone-map (manifest) file pruning [N] — see [[ZoneMap]]: orders
    * range-clustered by o_totalprice into 8 files, per-file min/max
    * manifest, and a band predicate that should touch ~1 of the 8 files
    * before any scan task launches (ZoneMapSpec asserts the ratio). The
    * residual filter keeps the result exact, so the key hash-matches a
    * plain filtered scan. */
  private def srcZonemapPruned(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = graft.Scratch.dir("orders_zonemap")
    ZoneMap.write(
      Tables.orders(spark, sfDir)
        .select(col("o_orderkey"), col("o_orderdate"), col("o_totalprice")),
      dir, "o_totalprice", Seq("o_totalprice"), nFiles = 8)
    ZoneMap.read(spark, dir, "o_totalprice", lit(450000.0), lit(500000.0))
      .orderBy("o_orderkey")
  }

  /** Z-order clustered layout [N] ([[graft.functions.ZOrderValue]] +
    * [[ZoneMap]]): orders range-partitioned by the Morton code of
    * (o_custkey, days-since-epoch-of-o_orderdate), manifest stats on
    * BOTH source dimensions. Unlike a linear sort on custkey — which
    * leaves every file's date band full-width — the curve keeps both
    * bands tight, so a band predicate on the DATE alone still prunes
    * files (ratio asserted in ZOrderValueSpec). The read result is
    * exact, so the key hash-matches a plain filtered scan. */
  private def sinkZorderScan(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = graft.Scratch.dir("orders_zorder")
    val zed = Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
        col("o_totalprice"),
        // ZOrderValue requires NON-NEGATIVE inputs (sign bit would top the
        // interleave and invert clustering); this corpus starts exactly at
        // 1995-01-01 but real TPC-H starts 1992 — clamp so an earlier date
        // degrades locally instead of silently destroying the whole curve.
        graft.functions.VectorFunctions.zorder(
          col("o_custkey").cast("int"),
          greatest(datediff(col("o_orderdate"), lit("1995-01-01")), lit(0))
            .cast("int")).as("__z"))
    ZoneMap.write(zed, dir, "__z", Seq("o_custkey", "o_orderdate"), nFiles = 16)
    ZoneMap.read(spark, dir, "o_orderdate",
        lit("1998-06-01").cast("timestamp"), lit("1998-08-31").cast("timestamp"))
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
        col("o_totalprice"))
      .orderBy("o_orderkey")
  }

  /** Hilbert-clustered write + band-filtered read [N] — the same
    * two-dimensional clustering contract as [[sinkZorderScan]] but on
    * the Hilbert curve ([[graft.functions.HilbertValue]]): no Morton
    * seams, so per-file min/max bands on both dimensions stay at least
    * as tight as z-order's (HilbertValueSpec measures both). The read
    * result is layout-independent, so the key hash-matches the same
    * plain filtered scan; the file-skipping win shows in the manifest
    * pruning ratio, not the answer. */
  private def sinkHilbertScan(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = graft.Scratch.dir("orders_hilbert")
    val indexed = Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
        col("o_totalprice"),
        graft.functions.VectorFunctions.hilbert(
          col("o_custkey").cast("int"),
          greatest(datediff(col("o_orderdate"), lit("1995-01-01")), lit(0))
            .cast("int")).as("__h"))
    ZoneMap.write(indexed, dir, "__h", Seq("o_custkey", "o_orderdate"), nFiles = 16)
    ZoneMap.read(spark, dir, "o_orderdate",
        lit("1998-06-01").cast("timestamp"), lit("1998-08-31").cast("timestamp"))
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
        col("o_totalprice"))
      .orderBy("o_orderkey")
  }

  /** Small-file compaction [N] — the table-maintenance pass every
    * long-lived warehouse needs: streaming/trickle ingest leaves
    * thousands of KB-scale files whose per-file open/footer cost
    * dominates scans at 100 TB. Drives the real maintenance engine
    * ([[graft.pipeline.Compact.compactParquet]]: metadata-only sizing
    * to `ceil(totalBytes/targetBytes)`, shuffle-free `coalesce`
    * rewrite, two-rename swap with crash recovery — CompactSpec) over
    * a deliberately fragmented copy of orders, then reads the healed
    * directory back. The result is layout-independent, so the oracle
    * is the plain table: what hash-matches is that the rewrite+swap
    * lost and duplicated nothing; the file-count arithmetic is pinned
    * by CompactSpec and re-asserted here via the report. */
  private def sinkCompactFiles(spark: SparkSession, sfDir: String): DataFrame = {
    val frag = graft.Scratch.dir("orders_frag")
    Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .repartition(64) // simulate trickle ingest: 64 tiny files
      .write.mode("overwrite").parquet(frag)
    val r = graft.pipeline.Compact.compactParquet(
      spark, frag, targetBytes = 1L << 20)
    require(r.filesAfter <= r.filesBefore,
      s"compaction grew the file count: $r")
    spark.read.parquet(frag)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .orderBy("o_orderkey")
  }

  /** Parquet FOOTER-served aggregation [N]: whole-table count/min/max
    * answered from row-group statistics without decoding a single data
    * page — at 100 TB the difference between touching metadata and
    * scanning the table. Aggregate pushdown needs the v2 parquet source
    * (v1 is Spark's default), so the query builds on an ISOLATED
    * `newSession()` whose conf flips parquet to v2 + enables
    * `parquet.aggregatePushdown` — the parent session's plans (bucketed
    * joins etc. are v1-only) are untouched, and the conf travels WITH
    * the DataFrame through any later re-planning (the
    * `join_range_rewritten` lesson: session-conf toggles must not be
    * restored under a returned lazy plan). PlanShapeSpec asserts the
    * scan carries `PushedAggregation`. */
  private def aggPushdownScan(s: SparkSession, d: String): DataFrame = {
    val s2 = isolatedSession(s, "src_agg_pushdown") { ns =>
      ns.conf.set("spark.sql.sources.useV1SourceList",
        "avro,csv,json,kafka,orc,text")
      ns.conf.set("spark.sql.parquet.aggregatePushdown", "true")
    }
    s2.read.parquet(s"$d/orders.parquet")
      .agg(expr("count(*)").as("n_rows"),
        min(col("o_orderkey")).as("min_key"),
        max(col("o_orderkey")).as("max_key"),
        min(col("o_totalprice")).as("min_price"),
        max(col("o_totalprice")).as("max_price"))
  }

  /** The DataSourceV2 ingest connector
    * ([[graft.sources.v2.EntityApiSource]]) end-to-end [N]: five
    * entities planned as five partitions, the IN-filter pushed into the
    * scan prunes two of them BEFORE any fetch runs, per-(entity,
    * metric) rollups on the delivered rows. Values pin to decimal(8,1)
    * pre-sum (the deterministic payloads are 1dp) so the rollup is
    * order-invariant. V2SourceSpec pins partition pruning and column
    * pruning in the plan. */
  private def v2EntityApi(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.format("graft.sources.v2.EntityApiSource")
      .option("entities", "ALPHA,BRAVO,CHARLIE,DELTA,ECHO")
      .option("periods", "8")
      .load()
      .filter(col("entity").isin("ALPHA", "BRAVO", "CHARLIE"))
      .groupBy(col("entity"), col("metric"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(8,1)")).cast("double").as("total"))
      .orderBy("entity", "metric")

  /** Storage-partitioned join through the layout-reporting V2 connector
    * ([[graft.sources.v2.PartitionedKvSource]]) [N]: both scans declare
    * one partition per `cat` with `KeyGroupedPartitioning(identity(cat))`,
    * so the co-located join on `cat` and the `groupBy(cat)` above
    * it plan with ZERO exchanges (broadcast disabled to prove it; the
    * conf-isolated session flips `v2.bucketing.enabled` like
    * `src_agg_pushdown` flips its parquet confs). At 100 TB this is the
    * Iceberg-style SPJ: two bucketed petabyte tables join without either
    * crossing the wire. V2SourceSpec pins the shuffle-free plan. */
  private def v2StoragePartitionedJoin(s: SparkSession, d: String): DataFrame = {
    val s2 = isolatedSession(s, "src_v2_spj") { ns =>
      ns.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      ns.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      ns.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    }
    def kv(rows: Int) = s2.read
      .format("graft.sources.v2.PartitionedKvSource")
      .option("rows", rows.toString).option("cats", "64").load()
    // join keys == partition keys: the contract Spark's key-grouped
    // compatibility check accepts (a superset re-shuffles)
    val a = kv(4000)
    val b = kv(1000).select(col("cat").as("bcat"), col("amt").as("bamt"))
    a.join(b, col("cat") === col("bcat"))
      .groupBy(col("cat"))
      .agg(count(lit(1)).as("n"), sum(col("amt") + col("bamt")).as("total"))
      .orderBy("cat")
  }

  /** SQL DML through a custom V2 TableCatalog [N]
    * (`sources/v2/FsKvCatalog`): CREATE TABLE → INSERT INTO →
    * DELETE FROM → SELECT all resolve through the catalog plugin, and
    * the DELETE is partition-grained (`SupportsDeleteV2` drops whole
    * partition directories — metadata-scale, the Hive drop-partition
    * shape; non-partition predicates are REFUSED by `canDeleteWhere`
    * rather than scanned on the driver). The hash check proves the
    * write commit protocol, the partition routing, the TSV round-trip,
    * and the delete are all exact. */
  private def v2CatalogDml(s: SparkSession, d: String): DataFrame = {
    val s2 = isolatedSession(s, "src_v2_catalog_dml") { ns =>
      ns.conf.set("spark.sql.catalog.graft_cat", "graft.sources.v2.FsKvCatalog")
      ns.conf.set("spark.sql.catalog.graft_cat.warehouse",
        graft.Scratch.dir("kv_catalog"))
    }
    Tables.customer(s2, d).createOrReplaceTempView("customer_dml_v")
    s2.sql("DROP TABLE IF EXISTS graft_cat.cust")
    s2.sql(
      """CREATE TABLE graft_cat.cust (
        |  c_custkey BIGINT, c_name STRING, c_mktsegment STRING)
        |USING kv PARTITIONED BY (c_mktsegment)""".stripMargin)
    s2.sql(
      """INSERT INTO graft_cat.cust
        |SELECT c_custkey, c_name, c_mktsegment FROM customer_dml_v""".stripMargin)
    s2.sql("DELETE FROM graft_cat.cust WHERE c_mktsegment = 'BUILDING'")
    s2.sql(
      """SELECT c_custkey, c_name, c_mktsegment FROM graft_cat.cust
        |ORDER BY c_custkey""".stripMargin)
  }

  /** SQL UPDATE + MERGE INTO through the same catalog [N]: group-based
    * copy-on-write via `SupportsRowLevelOperations` — Spark reads the
    * affected partition groups through the operation's scan, computes
    * updated/merged rows, and the replace-data commit swaps the scanned
    * partition dirs for the new files atomically. The flow seeds the
    * table with 2/3 of the customers, UPDATEs one residue class,
    * then MERGEs the full customer relation back in (matched rows of a
    * second residue class get annotated, missing rows insert), and the
    * final SELECT hash-matches the declaratively-stated end state. */
  private def v2CatalogMerge(s: SparkSession, d: String): DataFrame = {
    val s2 = isolatedSession(s, "src_v2_catalog_dml") { ns =>
      ns.conf.set("spark.sql.catalog.graft_cat", "graft.sources.v2.FsKvCatalog")
      ns.conf.set("spark.sql.catalog.graft_cat.warehouse",
        graft.Scratch.dir("kv_catalog"))
    }
    Tables.customer(s2, d).createOrReplaceTempView("customer_dml_v")
    s2.sql("DROP TABLE IF EXISTS graft_cat.cust_m")
    s2.sql(
      """CREATE TABLE graft_cat.cust_m (
        |  c_custkey BIGINT, c_name STRING, c_mktsegment STRING)
        |USING kv PARTITIONED BY (c_mktsegment)""".stripMargin)
    s2.sql(
      """INSERT INTO graft_cat.cust_m
        |SELECT c_custkey, c_name, c_mktsegment FROM customer_dml_v
        |WHERE c_custkey % 3 <> 0""".stripMargin)
    s2.sql(
      """UPDATE graft_cat.cust_m SET c_name = upper(c_name)
        |WHERE c_custkey % 10 = 1""".stripMargin)
    s2.sql(
      """MERGE INTO graft_cat.cust_m t
        |USING customer_dml_v s ON t.c_custkey = s.c_custkey
        |WHEN MATCHED AND s.c_custkey % 10 = 2
        |  THEN UPDATE SET c_name = concat(t.c_name, '+')
        |WHEN NOT MATCHED THEN INSERT (c_custkey, c_name, c_mktsegment)
        |  VALUES (s.c_custkey, s.c_name, s.c_mktsegment)""".stripMargin)
    s2.sql(
      """SELECT c_custkey, c_name, c_mktsegment FROM graft_cat.cust_m
        |ORDER BY c_custkey""".stripMargin)
  }

  /** Stored procedures through the same catalog [N]: Spark 4's
    * `ProcedureCatalog` + `CALL` statement — warehouse maintenance
    * shipped behind a procedure instead of exposed internals. The flow
    * seeds a table, `CALL graft_cat.drop_partition(...)` drops one
    * partition directory (metadata-scale, returns a result set via
    * `LocalScan`), and the final SELECT hash-matches the survivors. */
  private def v2CatalogCall(s: SparkSession, d: String): DataFrame = {
    val s2 = isolatedSession(s, "src_v2_catalog_dml") { ns =>
      ns.conf.set("spark.sql.catalog.graft_cat", "graft.sources.v2.FsKvCatalog")
      ns.conf.set("spark.sql.catalog.graft_cat.warehouse",
        graft.Scratch.dir("kv_catalog"))
    }
    Tables.customer(s2, d).createOrReplaceTempView("customer_dml_v")
    s2.sql("DROP TABLE IF EXISTS graft_cat.cust_p")
    s2.sql(
      """CREATE TABLE graft_cat.cust_p (
        |  c_custkey BIGINT, c_name STRING, c_mktsegment STRING)
        |USING kv PARTITIONED BY (c_mktsegment)""".stripMargin)
    s2.sql(
      """INSERT INTO graft_cat.cust_p
        |SELECT c_custkey, c_name, c_mktsegment FROM customer_dml_v""".stripMargin)
    s2.sql("CALL graft_cat.drop_partition('cust_p', 'MACHINERY')")
    s2.sql(
      """SELECT c_custkey, c_name, c_mktsegment FROM graft_cat.cust_p
        |ORDER BY c_custkey""".stripMargin)
  }

  /** Read-path pushdown + the `_partition` metadata column on the
    * catalog table [N]: equality on the partition column prunes whole
    * directories at PLANNING time, column pruning narrows the reader to
    * the requested fields, and `_partition` is served from the file
    * layout (never parsed from data) — the Iceberg/Delta hidden-column
    * surface. V2SourceSpec pins the pruned partition count. */
  private def v2FskvPruned(s: SparkSession, d: String): DataFrame = {
    val s2 = isolatedSession(s, "src_v2_catalog_dml") { ns =>
      ns.conf.set("spark.sql.catalog.graft_cat", "graft.sources.v2.FsKvCatalog")
      ns.conf.set("spark.sql.catalog.graft_cat.warehouse",
        graft.Scratch.dir("kv_catalog"))
    }
    Tables.customer(s2, d).createOrReplaceTempView("customer_dml_v")
    s2.sql("DROP TABLE IF EXISTS graft_cat.cust_q")
    s2.sql(
      """CREATE TABLE graft_cat.cust_q (
        |  c_custkey BIGINT, c_name STRING, c_mktsegment STRING)
        |USING kv PARTITIONED BY (c_mktsegment)""".stripMargin)
    s2.sql(
      """INSERT INTO graft_cat.cust_q
        |SELECT c_custkey, c_name, c_mktsegment FROM customer_dml_v""".stripMargin)
    s2.sql(
      """SELECT c_custkey, c_name, _partition FROM graft_cat.cust_q
        |WHERE c_mktsegment = 'FURNITURE'
        |ORDER BY c_custkey""".stripMargin)
  }

  /** Runtime (execution-time) partition pruning on the V2 connector [N]:
    * the dimension's selective filter reaches the fact scan as an
    * `In(cat, ...)` runtime filter via `SupportsRuntimeFiltering`, and
    * whole cat-partitions are dropped before their readers open — DPP
    * for V2 sources (planning-time parquet twin: `src_dpp_pruned`).
    * V2SourceSpec asserts the scan actually pruned. */
  private def v2RuntimeFilter(s: SparkSession, d: String): DataFrame = {
    // the dimension must be a REAL source with a surviving selective
    // Filter node — a filtered LocalRelation constant-folds away and the
    // pruning heuristic sees nothing selective to push
    val fact = s.read.format("graft.sources.v2.PartitionedKvSource")
      .option("rows", "20000").option("cats", "16").load()
    val dim = Tables.nation(s, d)
      .filter(col("n_regionkey") === 0)
      .select(col("n_nationkey").cast("int").as("dcat"))
    fact.join(broadcast(dim), col("cat") === col("dcat"))
      .groupBy(col("cat"))
      .agg(count(lit(1)).as("n"), sum(col("amt")).as("total"))
      .orderBy("cat")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "src_v2_spj" -> v2StoragePartitionedJoin,
    "src_v2_catalog_dml" -> v2CatalogDml,
    "src_v2_catalog_merge" -> v2CatalogMerge,
    "src_v2_catalog_call" -> v2CatalogCall,
    "src_v2_fskv_pruned" -> v2FskvPruned,
    "src_v2_runtime_filter" -> v2RuntimeFilter,
    "src_v2_pushdown" -> v2EntityApi,
    "src_agg_pushdown" -> aggPushdownScan,
    "sink_zorder_scan" -> sinkZorderScan,
    "sink_hilbert_scan" -> sinkHilbertScan,
    "sink_compact_files" -> sinkCompactFiles,
    "src_zonemap_pruned" -> srcZonemapPruned,
    "sink_bloom_scan" -> sinkBloomScan,
    "sink_sorted_scan" -> sinkSortedScan,
    "src_list_scan" -> srcListScan,
    "src_json_records" -> srcJsonRecords,
    "src_csv_roundtrip" -> srcCsvRoundtrip,
    "src_orc_roundtrip" -> srcOrcRoundtrip,
    "src_xml_roundtrip" -> srcXmlRoundtrip,
    "sink_json_per_entity" -> sinkJsonPerEntity,
    "sink_manifest" -> sinkManifest,
    "sink_partitioned_scan" -> sinkPartitionedScan,
    "src_dpp_pruned" -> srcDppPruned,
    "sink_bucketed_join" -> sinkBucketedJoin,
    "sink_bucketed_window" -> sinkBucketedWindow,
    "sink_commit_if_changed" -> sinkCommitIfChanged,
    "sink_commit_partitions" -> sinkCommitPartitions,
    "src_merge_schema" -> srcMergeSchema,
    "src_json_corrupt" -> srcJsonCorrupt)

  val oracles: Map[String, String] = Map(
    "src_v2_catalog_dml" ->
      """SELECT c_custkey, c_name, c_mktsegment
        |FROM customer WHERE c_mktsegment <> 'BUILDING'
        |ORDER BY c_custkey""".stripMargin,
    "src_v2_catalog_call" ->
      """SELECT c_custkey, c_name, c_mktsegment
        |FROM customer WHERE c_mktsegment <> 'MACHINERY'
        |ORDER BY c_custkey""".stripMargin,
    "src_v2_fskv_pruned" ->
      """SELECT c_custkey, c_name,
        |       'c_mktsegment=FURNITURE' AS _partition
        |FROM customer WHERE c_mktsegment = 'FURNITURE'
        |ORDER BY c_custkey""".stripMargin,
    // the declarative end state of seed(2/3) -> UPDATE(%10=1) ->
    // MERGE(annotate %10=2, insert the missing third)
    "src_v2_catalog_merge" ->
      """SELECT c_custkey,
        |       CASE WHEN c_custkey % 3 = 0 THEN c_name
        |            WHEN c_custkey % 10 = 1 THEN upper(c_name)
        |            WHEN c_custkey % 10 = 2 THEN c_name || '+'
        |            ELSE c_name END AS c_name,
        |       c_mktsegment
        |FROM customer ORDER BY c_custkey""".stripMargin,
    "src_v2_spj" ->
      """WITH a AS (
        |  SELECT CAST(((i * 2654435761) % 997) % 64 AS INT) AS cat,
        |         (i * 31) % 9973 AS amt
        |  FROM range(4000) t(i)),
        |b AS (
        |  SELECT CAST(((i * 2654435761) % 997) % 64 AS INT) AS cat,
        |         (i * 31) % 9973 AS amt
        |  FROM range(1000) t(i))
        |SELECT a.cat, CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(a.amt + b.amt) AS BIGINT) AS total
        |FROM a JOIN b ON a.cat = b.cat
        |GROUP BY a.cat ORDER BY a.cat""".stripMargin,
    "src_v2_runtime_filter" ->
      """WITH f AS (
        |  SELECT (i * 2654435761) % 997 AS key,
        |         CAST(((i * 2654435761) % 997) % 16 AS INT) AS cat,
        |         (i * 31) % 9973 AS amt
        |  FROM range(20000) t(i)),
        |d AS (
        |  SELECT CAST(n_nationkey AS INT) AS dcat FROM nation
        |  WHERE n_regionkey = 0)
        |SELECT cat, CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(amt) AS BIGINT) AS total
        |FROM f JOIN d ON f.cat = d.dcat
        |GROUP BY cat ORDER BY cat""".stripMargin,
    "src_v2_pushdown" ->
      """WITH entities(entity) AS (
        |  VALUES ('ALPHA'), ('BRAVO'), ('CHARLIE')),
        |metrics(metric, idx) AS (
        |  VALUES ('revenue', 0), ('eps', 1), ('assets', 2)),
        |p AS (SELECT unnest(generate_series(1, 8)) AS period),
        |r AS (
        |  SELECT entity, metric,
        |         CAST(CAST((period * 37 + ascii(substr(entity, 1, 1)) * 13
        |               + length(entity) * 11 + idx * 101) % 1000 AS DOUBLE)
        |              / 10.0 AS DECIMAL(8,1)) AS v
        |  FROM entities, metrics, p)
        |SELECT entity, metric, count(*) AS n, CAST(sum(v) AS DOUBLE) AS total
        |FROM r GROUP BY entity, metric ORDER BY entity, metric""".stripMargin,
    "sink_bucketed_window" ->
      """WITH e AS (
        |  SELECT user_id, date_trunc('microseconds', ts) AS ts, event_id,
        |         CAST(value AS DECIMAL(12,2)) AS v
        |  FROM events),
        |r AS (
        |  SELECT user_id, event_id,
        |         CAST(row_number() OVER win AS INTEGER) AS rn,
        |         CAST(sum(v) OVER (PARTITION BY user_id
        |           ORDER BY ts, event_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |           AS DOUBLE) AS run_sum
        |  FROM e
        |  WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id))
        |SELECT user_id, event_id, rn, run_sum
        |FROM r WHERE rn <= 3
        |ORDER BY user_id, rn""".stripMargin,
    "src_agg_pushdown" ->
      """SELECT count(*) AS n_rows,
        |       min(o_orderkey) AS min_key, max(o_orderkey) AS max_key,
        |       min(o_totalprice) AS min_price, max(o_totalprice) AS max_price
        |FROM orders""".stripMargin,
    "src_dpp_pruned" ->
      """SELECT CAST(yr AS INTEGER) AS yr, count(*) AS n_orders,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |         AS total_price
        |FROM (SELECT year(o_orderdate) AS yr, o_totalprice FROM orders) o
        |JOIN (SELECT 1995 + r_regionkey AS yr FROM region
        |      WHERE r_name IN ('ASIA', 'EUROPE')) d USING (yr)
        |GROUP BY yr ORDER BY yr""".stripMargin,
    "sink_zorder_scan" ->
      """SELECT o_orderkey, o_custkey, o_orderdate, o_totalprice
        |FROM orders
        |WHERE o_orderdate BETWEEN TIMESTAMP '1998-06-01' AND TIMESTAMP '1998-08-31'
        |ORDER BY o_orderkey""".stripMargin,
    "sink_hilbert_scan" ->
      """SELECT o_orderkey, o_custkey, o_orderdate, o_totalprice
        |FROM orders
        |WHERE o_orderdate BETWEEN TIMESTAMP '1998-06-01' AND TIMESTAMP '1998-08-31'
        |ORDER BY o_orderkey""".stripMargin,
    "sink_compact_files" ->
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders
        |ORDER BY o_orderkey""".stripMargin,
    "src_zonemap_pruned" ->
      """SELECT o_orderkey, o_orderdate, o_totalprice
        |FROM orders
        |WHERE o_totalprice BETWEEN 450000.0 AND 500000.0
        |ORDER BY o_orderkey""".stripMargin,
    "sink_bloom_scan" ->
      """SELECT l_orderkey, l_linenumber, l_suppkey, l_quantity
        |FROM lineitem
        |WHERE l_suppkey IN (7, 77, 777)
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "sink_sorted_scan" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_shipdate
        |FROM lineitem
        |WHERE l_shipdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1996-03-31'
        |ORDER BY l_orderkey, l_linenumber, l_suppkey, l_partkey,
        |         l_quantity, l_extendedprice""".stripMargin,
    "src_list_scan" ->
      """SELECT 'part' AS list_name, upper(trim(p_name)) AS item, p_partkey
        |FROM part WHERE length(trim(p_name)) > 0 ORDER BY p_partkey""".stripMargin,
    "src_json_records" ->
      """SELECT event_id, CAST(json_extract(props, '$.k') AS INTEGER) AS k
        |FROM events ORDER BY event_id""".stripMargin,
    "src_csv_roundtrip" ->
      """SELECT s_suppkey, s_name, s_nationkey, s_acctbal
        |FROM supplier ORDER BY s_suppkey""".stripMargin,
    "src_orc_roundtrip" ->
      """SELECT p_partkey, p_name, p_size, p_retailprice
        |FROM part WHERE p_size >= 25 ORDER BY p_partkey""".stripMargin,
    "src_xml_roundtrip" ->
      """SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
        |FROM customer ORDER BY c_custkey""".stripMargin,
    "sink_json_per_entity" ->
      """SELECT c_custkey, c_name, c_acctbal, c_mktsegment
        |FROM customer ORDER BY c_custkey""".stripMargin,
    "sink_manifest" ->
      """SELECT to_json({'lists': map(list(seg ORDER BY seg), list(memb ORDER BY seg))}) AS manifest
        |FROM (SELECT c_mktsegment AS seg, list(c_name ORDER BY c_name) AS memb
        |      FROM customer GROUP BY 1)""".stripMargin,
    "sink_bucketed_join" ->
      """SELECT o_orderkey, o_totalprice, round_even(qty, 2) AS qty
        |FROM orders JOIN (
        |  SELECT l_orderkey, sum(l_quantity) AS qty FROM lineitem GROUP BY l_orderkey
        |) la ON o_orderkey = la.l_orderkey
        |ORDER BY o_orderkey""".stripMargin,
    "sink_partitioned_scan" ->
      """SELECT o_orderkey, o_totalprice, CAST(1998 AS INTEGER) AS yr
        |FROM orders WHERE year(o_orderdate) = 1998 ORDER BY o_orderkey""".stripMargin,
    "sink_commit_if_changed" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |EXCEPT
        |SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 7 <> 0
        |ORDER BY o_orderkey""".stripMargin,
    "src_json_corrupt" ->
      """SELECT CASE WHEN event_id % 97 = 0 THEN '_corrupt' ELSE event_type END AS bucket,
        |       count(*) AS n
        |FROM events GROUP BY 1 ORDER BY bucket""".stripMargin,
    "src_merge_schema" ->
      """SELECT p_partkey, p_name,
        |       CAST(NULL AS INTEGER) AS p_size, CAST(NULL AS DOUBLE) AS p_retailprice
        |FROM part
        |UNION ALL
        |SELECT p_partkey, CAST(NULL AS VARCHAR), p_size, p_retailprice FROM part
        |ORDER BY p_partkey, p_name NULLS FIRST""".stripMargin,
    // expected post-merge state: changed partitions (1995/1997 — the ones
    // the stale snapshot perturbed) carry current values and src='cur';
    // every other partition still holds the previous snapshot's rows
    "sink_commit_partitions" ->
      """SELECT o_orderkey, CAST(year(o_orderdate) AS INTEGER) AS yr, o_totalprice,
        |       CASE WHEN year(o_orderdate) IN (1995, 1997)
        |            THEN 'cur' ELSE 'prev' END AS src
        |FROM orders ORDER BY o_orderkey""".stripMargin)
}
