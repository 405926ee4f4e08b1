package graft

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}

/** Readers for the harness corpus (`/root/testdata/sf{N}/{name}.parquet`).
  *
  * Every corpus read goes through [[parquet]], the source-schema
  * resolver: it reads the path with a KNOWN schema
  * (`spark.read.schema(s).parquet`), so building a query frame runs no
  * Spark job. Left to infer, Spark answers each `spark.read.parquet`
  * with a footer-reading job (`mergeSchemasInParallel`) every time a
  * frame is built — the reference never asks its store what a table
  * looks like (its storage wrapper knows each table's model).
  *
  * The schema comes from a JVM-wide cache, LRU-bounded at 256 entries,
  * keyed by
  *   - the qualified path;
  *   - a digest of the sorted (file, length, modification time) of every
  *     data file under it, listed through the Hadoop FS API with Spark's
  *     own hidden-name rule (`_`/`.` names skipped);
  *   - the values of every session conf under `spark.sql.parquet.` or
  *     `spark.sql.legacy.parquet.` (`nanosAsLong` and
  *     `inferTimestampNTZ` change the inferred types).
  * A miss is plain `spark.read.parquet(path)`, so Spark stays the only
  * source of truth and the first read of a file set behaves as it
  * always did; rewriting the files or changing those confs changes the
  * key.
  *
  * Filters, projections and limits the caller stacks on top are pushed
  * into the scan by Catalyst (`PushedFilters` / `ReadSchema` in the
  * formatted plan), which is the Spark-native form of the reference's
  * server-side `filter=`/`select=`/`num_results=` pushdown (reference
  * `storage/azurestoragewrapper.py:63,412`).
  */
object Tables {

  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    GraftSession.tune(spark)
    parquet(spark, s"$dir/$name.parquet")
  }

  /** `path` read as `spark.read.parquet(path)` would, with the schema
    * resolved once per (path, file set, parquet confs) — see the object
    * doc. A path that cannot be listed (missing, a glob) is read plainly,
    * so Spark raises its own error.
    */
  def parquet(spark: SparkSession, path: String): DataFrame =
    schemaKey(spark, path) match {
      case None => spark.read.parquet(path)
      case Some(key) =>
        schemaCache.synchronized(Option(schemaCache.get(key))) match {
          case Some(schema) => spark.read.schema(schema).parquet(path)
          case None =>
            // infer OUTSIDE the monitor — it runs a Spark job; a racing
            // duplicate inference of the same file set is harmless
            val df = spark.read.parquet(path)
            schemaCache.synchronized(schemaCache.put(key, df.schema))
            df
        }
    }

  /** (qualified path, file-set digest, parquet confs). */
  private type SchemaKey = (String, String, Seq[(String, String)])

  private val schemaCache =
    new java.util.LinkedHashMap[SchemaKey, StructType](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[SchemaKey, StructType]): Boolean =
        size > 256
    }

  private def schemaKey(spark: SparkSession, path: String): Option[SchemaKey] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val root =
      try fs.getFileStatus(p)
      catch { case _: java.io.FileNotFoundException => return None }
    val md = java.security.MessageDigest.getInstance("SHA-256")
    dataFiles(fs, root).sorted.foreach { case (f, len, mtime) =>
      md.update(s"$f\t$len\t$mtime\n".getBytes(UTF_8))
    }
    val confs = spark.conf.getAll.toSeq.filter { case (k, _) =>
      k.startsWith("spark.sql.parquet.") || k.startsWith("spark.sql.legacy.parquet.")
    }.sorted
    Some((fs.makeQualified(p).toString,
      md.digest().map(b => f"${b & 0xff}%02x").mkString, confs))
  }

  /** (path, length, modification time) of every file Spark would list
    * under `st`, recursively.
    */
  private def dataFiles(fs: FileSystem, st: FileStatus): Seq[(String, Long, Long)] =
    if (!st.isDirectory) Seq((st.getPath.toString, st.getLen, st.getModificationTime))
    else fs.listStatus(st.getPath).toSeq
      .filterNot(c => org.apache.spark.sql.graft.Bridge.hiddenPathName(c.getPath.getName))
      .flatMap(dataFiles(fs, _))

  /** The `events` table stores `ts` as parquet TIMESTAMP(NANOS), which
    * Spark cannot map to TimestampType. With
    * `spark.sql.legacy.parquet.nanosAsLong` the column arrives as a raw
    * nanosecond long; `ts div 1000` (integer division — a double division
    * would lose precision above 2^53) truncates to microseconds, exactly
    * what DuckDB's nanos→micros cast does on the oracle side.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val raw = table(spark, dir, "events")
    raw.schema("ts").dataType match {
      // TIMESTAMP(NANOS) parquet read raw via nanosAsLong
      case LongType => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      // naive micros read by an untuned session (GraftSession.tune
      // disables NTZ inference; this covers foreign sessions) — the
      // cast reinterprets the wall-clock value in the UTC session zone,
      // the same instants the tuned read produces
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case _ => raw
    }
  }

  def lineitem(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "region")
  def documents(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "embeddings")
}
