package graft.operators

import org.apache.spark.sql.DataFrame

/** Durable materialization of intermediates via staging parquet.
  *
  * Two jobs in one utility:
  *
  *   1. Multi-consumer intermediates (Dedup posting tables): run the
  *      producing plan ONCE and let every consumer read the staged file.
  *      A `persist()` would leak into the shared session and is memory-
  *      bounded; a staging file is disk-bounded and spill-free.
  *   2. One evaluation of a mutation source that several steps consume
  *      ([[GraftTable]] upserts stage their updates: the touched
  *      partitions, the changed-row test and the merge must all see the
  *      same rows). A [[GraftTable]] rewrite itself needs NO barrier
  *      between its read and its write: a commit adds files and swaps
  *      manifest entries but never deletes or overwrites a file, so a
  *      task recomputed after an executor loss re-reads exactly the
  *      files its plan was built on. `persist()` would not do for (1)
  *      on a cluster: a lost executor discards its cached blocks and
  *      Spark recomputes them, possibly to different rows.
  *
  * Mechanism selection: with `graft.staging.dir` SET (point it at
  * job-scoped cluster storage — HDFS/S3), every stage is a parquet
  * write — durable across executor loss, the only correct barrier on a
  * multi-node cluster. With the conf UNSET (single-node/dev mode — an
  * unset root on a real cluster would stage into per-node local tmp,
  * which is already broken for multi-node reads), stage() uses
  * `localCheckpoint(eager=true)` instead: the plan is cut exactly the
  * same way (O(1) plan depth for iterative operators, one computation
  * for multi-consumer frames), but the materialization lives in the
  * block manager (memory, spilling to local disk) with no parquet
  * round-trip — several times faster per iteration at small scale.
  * Durability trade: checkpoint blocks die with the JVM; if a block is
  * lost the JOB FAILS (lineage is truncated — Spark cannot silently
  * recompute the staged rows into different ones, so every consumer
  * still sees one evaluation; what is lost is restartability,
  * which single-JVM mode never had). Each JVM stages parquet under its
  * own `jvm_<pid>_<nonce>` subdir so exit cleanup removes only this
  * JVM's files, never a shared root another job still reads.
  *
  * Lifecycle: every staging root this JVM creates is tracked in
  * [[roots]]; a single shutdown hook deletes them all (covering the case
  * where `graft.staging.dir` changes mid-JVM — each distinct session
  * root is registered, not just the first). Callers whose staged frame
  * has a known last consumer should call [[Staged.delete]] eagerly
  * instead of waiting for exit: a long-lived session constructing many
  * operators otherwise accumulates disk until shutdown (each stage costs
  * one parquet copy of the intermediate until deleted).
  */
object Staging {

  /** A staged intermediate: `df` reads the materialization (staging
    * parquet, or checkpoint blocks in local mode — `path` is empty
    * then); [[delete]] releases it once the last consumer has run.
    */
  final case class Staged(df: DataFrame, path: String) {
    /** Eagerly release the staged materialization (file delete or block
      * unpersist). Safe to call more than once.
      */
    def delete(): Unit =
      if (path.isEmpty) { df.unpersist(); () }
      else Staging.delete(df.sparkSession, path)
  }

  private val sessionId: String =
    s"jvm_${java.lang.ProcessHandle.current().pid()}_${java.util.UUID.randomUUID().toString.take(8)}"

  /** Every session root this JVM has created, with the Hadoop
    * configuration that can reach it (captured at registration — the
    * SparkSession may already be stopped when the hook runs); the
    * single shutdown hook iterates the whole map.
    */
  private val roots = new java.util.concurrent.ConcurrentHashMap[
    String, org.apache.hadoop.conf.Configuration]()
  private val hooked = new java.util.concurrent.atomic.AtomicBoolean(false)

  private def registerRoot(dir: String,
                           conf: org.apache.hadoop.conf.Configuration): Unit = {
    roots.put(dir, conf)
    if (hooked.compareAndSet(false, true))
      Runtime.getRuntime.addShutdownHook(new Thread(() => exitCleanup()))
  }

  /** Delete every registered staging root through the HADOOP FS API —
    * a `java.io.File` walk would silently no-op on a remote
    * `graft.staging.dir` (HDFS/S3), leaving job-scoped storage hygiene
    * to the caller. Best-effort per root: at JVM exit Hadoop's own
    * shutdown hook may already have closed cached filesystems, and a
    * failed delete must not block the remaining roots. Package-visible
    * so StagingSpec can drive the hook body directly.
    */
  private[operators] def exitCleanup(): Unit =
    roots.forEach { (dir, conf) =>
      try {
        val p = new org.apache.hadoop.fs.Path(dir)
        p.getFileSystem(conf).delete(p, true): Unit
      } catch { case scala.util.control.NonFatal(_) => () }
    }

  /** Materialize `df` as a lineage-free barrier and return a frame
    * reading it back: staging parquet when `graft.staging.dir` is set
    * (cluster mode), eager local checkpoint otherwise (see class doc
    * for the trade).
    */
  def stage(df: DataFrame, hint: String): Staged = {
    val spark = df.sparkSession
    spark.conf.getOption("graft.staging.dir") match {
      case Some(root) =>
        val dir = s"$root/$sessionId"
        val path = s"$dir/${hint}_${java.util.UUID.randomUUID().toString.take(8)}"
        df.write.mode("overwrite").parquet(path)
        registerRoot(dir, spark.sparkContext.hadoopConfiguration)
        // read back with the frame's own schema: no footer-inference job
        Staged(spark.read.schema(df.schema).parquet(path), path)
      case None =>
        Staged(df.localCheckpoint(true), "")
    }
  }

  private def delete(spark: org.apache.spark.sql.SparkSession, path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(p, true): Unit
  }
}
