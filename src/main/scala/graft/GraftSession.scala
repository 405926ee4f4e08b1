package graft

import org.apache.spark.sql.SparkSession

/** Session factory for the graft engine.
  *
  * The settings here are the ones we would ship on a large multi-executor
  * cluster; the local[N] harness only changes parallelism:
  *
  *   - AQE on: runtime coalescing of shuffle partitions + skew-join
  *     splitting, so a 100 TB run self-corrects bad static estimates.
  *   - Non-ANSI, permissive coercion: the reference engine never aborts a
  *     load on a malformed cell — `safe_cast` returns the column default
  *     instead (reference `server/helper.py:4-27`). Classic cast-to-null +
  *     `coalesce(default)` reproduces that contract.
  *   - UTC session time zone: oracle parity and stable partition keys.
  *   - Parquet nanos-as-long: the harness `events` table carries
  *     TIMESTAMP(NANOS) which vanilla Spark refuses; we read the raw
  *     int64 and convert (see [[Tables.events]]).
  */
object GraftSession {

  /** Apply engine confs to an existing session (e.g. one built by the
    * driver harness). All of these are runtime-settable.
    */
  def tune(spark: SparkSession): SparkSession = {
    val c = spark.conf
    c.set("spark.sql.session.timeZone", "UTC")
    c.set("spark.sql.ansi.enabled", "false")
    c.set("spark.sql.adaptive.enabled", "true")
    c.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    c.set("spark.sql.adaptive.skewJoin.enabled", "true")
    // TIMESTAMP(NANOS) parquet columns surface as LongType instead of
    // erroring out (harness events table):
    c.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // Naive (isAdjustedToUTC=false) parquet timestamps read as plain
    // TIMESTAMP in the UTC session, not TIMESTAMP_NTZ — the harness
    // events table is naive micros, and NTZ columns reject event-time
    // watermarks and epoch arithmetic (unix_micros). DuckDB reads the
    // same bytes as naive TIMESTAMP, so both engines see identical
    // wall-clock values.
    c.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    // NOTE deliberately NOT pinned here: spark.sql.parquet.
    // outputTimestampType. GraftTable scopes TIMESTAMP_MICROS around
    // its OWN data-file writes (footer-harvested zone maps need the
    // modern annotation — INT96 has no usable footer ordering), while
    // the session default stays untouched: a global pin changes how
    // EVERY parquet this session writes renders in non-Spark readers
    // (instant-typed MICROS reads back as timestamptz).
    // Partition-overwrite only rewrites the partitions present in the
    // incoming frame — the physical form of the reference's per-day
    // import-once upserts (reference `server/etl.py:71`).
    c.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    // STORAGE-PARTITIONED JOINS (SPARK-37375): graft catalog scans
    // report KeyGroupedPartitioning over the table's partition column,
    // so two tables partitioned on the same key join WITHOUT a shuffle
    // exchange on either side — the fact-fact lever at 100 TB. The
    // engine only honors the report under this flag; pushPartValues
    // keeps the join exchange-free when one side is missing partition
    // values (it replays the union of values instead of shuffling).
    c.set("spark.sql.sources.v2.bucketing.enabled", "true")
    c.set("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
    // join keys are usually a SUPERSET of the partition key (pk +
    // row key); co-partitioning on the partition-key subset is exactly
    // what storage partitioning guarantees — the engine's strict
    // default would re-shuffle both sides anyway
    c.set("spark.sql.requireAllClusterKeysForCoPartition", "false")
    // Engine optimizer rule on a LIVE session (the driver hands us an
    // already-built one, so the spark.sql.extensions hook is past):
    // rewrite user-written HOF fixed-point dot products to the fused
    // codegen'd FixedDot (~4×, semantics-identical incl. nulls). Build-
    // time installs use graft.ext.GraftExtensions instead.
    val extra = spark.experimental.extraOptimizations
    if (!extra.contains(graft.ext.RewriteHofFixedDot))
      spark.experimental.extraOptimizations = extra :+ graft.ext.RewriteHofFixedDot
    // SQL MERGE INTO / UPDATE over graft catalog tables: experimental
    // strategies plan ahead of the built-ins, claiming the resolved
    // command before BasicOperators rejects it as unsupported.
    val strats = spark.experimental.extraStrategies
    if (!strats.contains(org.apache.spark.sql.graft.GraftRowLevelSqlStrategy))
      spark.experimental.extraStrategies =
        strats :+ org.apache.spark.sql.graft.GraftRowLevelSqlStrategy
    spark
  }

  /** Build a local session with `n` cores; shuffle partitions sized to the
    * core count (not the 200 default, which just makes tiny local tasks).
    * The generated-code cache holds 2,000 classes instead of Spark's 100:
    * a workload of a few dozen plans (an ETL tick, a query pass) evicts
    * its own classes at 100 and compiles them again on every run. The
    * cache is a static conf, so it can only be set here.
    */
  def local(n: Int = Runtime.getRuntime.availableProcessors()): SparkSession = {
    val spark = SparkSession
      .builder()
      .master(s"local[$n]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.sql.extensions", "graft.ext.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    tune(spark)
  }
}
