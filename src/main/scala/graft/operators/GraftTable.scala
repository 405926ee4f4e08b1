package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** A keyed, partitioned parquet table — the physical form of the
  * reference's storage model (`(PartitionKey, RowKey)`-addressed rows,
  * `storage/azurestoragewrapper.py:115-116`): day-partitioned layout on
  * disk, key-level upserts via the [[KeyedTable]] MERGE layer, and
  * dynamic partition overwrite so a write only rewrites the partitions
  * it touches (the physical form of per-day import-once idempotency).
  *
  * At cluster scale the same code runs against object storage; the
  * partition column is the pruning axis (queries with a partition
  * predicate read only those directories) and should match the dominant
  * access pattern — the broadcast day for the reference workload.
  */
object GraftTable {

  /** Aggregate shapes computable from manifest METADATA alone
    * ([[GraftTable.metadataAggregates]]) — the DSv2 aggregate-pushdown
    * vocabulary (`SELECT count(*) / count(c) / min(c) / max(c) FROM t`
    * with no WHERE, no GROUP BY). Column names are LOGICAL.
    */
  sealed trait MetaAgg
  case object MetaCountStar extends MetaAgg
  final case class MetaCountCol(col: String) extends MetaAgg
  final case class MetaMin(col: String) extends MetaAgg
  final case class MetaMax(col: String) extends MetaAgg

  /** One bin of an EQUI-HEIGHT histogram: ~`height` rows fall in
    * [lo, hi] (lo == hi = a heavy-hitter value pinned to its own bin).
    * Bin NDV is the uniform split of the column NDV (collapsed bins
    * are a single value) — endpoints, not bin NDVs, are what capture
    * skew for range selectivity.
    */
  final case class HistBin(lo: Double, hi: Double, ndv: Long)

  /** An equi-height histogram over a numeric column ([[HistBin]]s in
    * ascending order; `height` = non-null rows / bin count).
    */
  final case class Hist(height: Double, bins: Seq[HistBin])

  /** Partition values (None = null) recorded by a mutation pass: each
    * task adds to its own copy, the driver merges them as tasks finish.
    */
  private[operators] final class PartitionSet extends
      org.apache.spark.util.AccumulatorV2[Option[String], Set[Option[String]]] {
    private var set = Set.empty[Option[String]]
    def isZero: Boolean = set.isEmpty
    def copy(): PartitionSet = { val c = new PartitionSet; c.set = set; c }
    def reset(): Unit = set = Set.empty
    def add(v: Option[String]): Unit = set += v
    def merge(o: org.apache.spark.util.AccumulatorV2[Option[String],
      Set[Option[String]]]): Unit = set ++= o.value
    def value: Set[Option[String]] = set
  }

  /** One column's ANALYZE output ([[GraftTable.analyzeTable]]): NDV is
    * an HLL estimate (`approx_count_distinct`), extrema are canonical
    * Long/Double for integral/floating columns, lengths are bytes for
    * string/binary, and numeric columns carry an EQUI-HEIGHT histogram
    * (percentile endpoints — narrow bins in dense regions are what let
    * the optimizer see skew that min/max interpolation cannot).
    * Everything optional — absent facts simply don't feed the
    * optimizer.
    */
  final case class ColumnStats(ndv: Option[Long], nullCount: Option[Long],
                               min: Option[String], max: Option[String],
                               avgLen: Option[Long], maxLen: Option[Long],
                               hist: Option[Hist] = None)

  /** The stats sidecar's content: computed AT `version` over
    * `rowCount` rows. Staleness is visible (current version vs
    * `version`) and tolerated — estimates feed the cost model, never
    * results.
    */
  final case class TableStats(version: Long, rowCount: Long,
                              cols: Map[String, ColumnStats])

  /** Schema-metadata keys for GENERATED / IDENTITY columns (round 11):
    * persisted verbatim in the schema sidecar (StructField metadata),
    * applied by `conform` on every write path.
    */
  /** [[GraftTable.vacuumDryRun]]'s report. */
  final case class VacuumReport(droppedVersions: Seq[Long], deadFiles: Long,
                                deadBytes: Long, orphanFiles: Long)

  val GeneratedExprKey = "graft.generatedExpr"
  val IdentityStartKey = "graft.identity.start"
  val IdentityStepKey = "graft.identity.step"
  val IdentityExplicitKey = "graft.identity.allowExplicit"

  /** Column-metadata marker on every field APPENDED after CREATE
    * (write-path schema evolution, `ALTER TABLE ADD COLUMNS`, MERGE
    * schema evolution) — provenance metadata the `<t>__detail` table
    * surfaces as `evolved_columns`. The append-at-end reporting
    * contract itself comes from SIDECAR ORDER (appends land last);
    * the tag records WHICH columns arrived by evolution.
    */
  val EvolvedKey = "graft.evolvedAfterCreate"

  private[operators] def tagEvolved(
      f: org.apache.spark.sql.types.StructField)
      : org.apache.spark.sql.types.StructField =
    f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
      .withMetadata(f.metadata).putBoolean(EvolvedKey, true).build())

  /** Write `df` as a BUCKETED table: rows are hash-distributed into
    * `buckets` files by `bucketCols` and sorted within each bucket, and
    * the bucketing is recorded in the catalog — so a later equi-join or
    * aggregation on the bucket columns reads co-located data and plans
    * NO shuffle exchange (asserted in `BucketingSpec`). This is the
    * physical lever SCALE.md's fact-fact join row relies on: bucket both
    * fact tables on the join key once at write time, and every
    * subsequent join on that key is exchange-free regardless of size.
    */
  def writeBucketed(df: org.apache.spark.sql.DataFrame, table: String, path: String,
                    buckets: Int, bucketCols: Seq[String]): Unit =
    df.write.mode(SaveMode.Overwrite)
      .option("path", path)
      .bucketBy(buckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .saveAsTable(table)

  /** Full checkpoint manifest every this-many versions; between
    * checkpoints each commit appends a DELTA manifest (drops + adds),
    * so replaying any version touches at most this many log files.
    */
  private[operators] val CheckpointEvery = 8

  /** Vacuum's orphan sweep only reclaims uncommitted ckpt/DV sidecar
    * dirs OLDER than this (dir mtime): a concurrent writer stages its
    * sidecar before linking the manifest marker, and deleting the
    * staged dir would make the committed version unreadable. 10 min
    * comfortably exceeds any single commit's stage→link window.
    * Mutable (package-private) only so tests can exercise both sides
    * of the gate without sleeping.
    */
  @volatile private[operators] var orphanGraceMs: Long = 10L * 60 * 1000

  /** The session graft DATA-file writes run on: ONE clone of the
    * caller's session per session (weakly held — dying sessions drop
    * their clone) with `spark.sql.parquet.outputTimestampType` pinned
    * to TIMESTAMP_MICROS. Graft data files need trustworthy parquet
    * footer min/max for timestamp zone maps (INT96, the default, has
    * no usable footer ordering — footerCanon rightly distrusts it),
    * and the clone isolates the pin COMPLETELY: a set/restore on the
    * shared session (even synchronized) leaks the pin to a concurrent
    * NON-graft parquet write on another thread during the window; a
    * pinned clone cannot. Shared across table instances because the
    * SQL catalog opens a fresh GraftTable per statement — a per-
    * instance clone re-paid SessionState construction on every DML
    * statement. The VALUE-SHAPING caller confs (session timezone, ANSI
    * mode) re-apply on every write, so write-side evaluation follows
    * the caller's current conf deterministically; other caller conf
    * snapshots at clone creation (and a GC'd clone re-snapshots on
    * re-creation).
    */
  private val microsSessions =
    new java.util.WeakHashMap[SparkSession,
      java.lang.ref.WeakReference[SparkSession]]()
  private[operators] def microsSessionFor(spark: SparkSession): SparkSession =
    microsSessions.synchronized {
      // the VALUE must be weak too: a clone strongly references its
      // parent (SessionState keeps the parent for lazy re-derivation),
      // so a strong value would pin its own key and the entry would
      // never collect — a long-running driver creating many sessions
      // would leak a full SessionState per session. A collected clone
      // simply re-creates on the next write (same conf-snapshot caveat).
      var s2 = Option(microsSessions.get(spark)).map(_.get()).orNull
      if (s2 == null) {
        s2 = org.apache.spark.sql.graft.Bridge.cloneSession(spark)
        s2.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        microsSessions.put(spark, new java.lang.ref.WeakReference(s2))
      }
      // value-shaping caller conf RE-APPLIES on every write: the clone
      // otherwise snapshots at creation, and since GC may collect and
      // re-create it at ANY later write, a creation-time snapshot would
      // make stale-vs-fresh conf NONDETERMINISTIC. Timezone and ANSI
      // are the confs that change written bytes.
      Seq("spark.sql.session.timeZone", "spark.sql.ansi.enabled").foreach { k =>
        val v = spark.conf.get(k)
        if (s2.conf.get(k) != v) s2.conf.set(k, v)
      }
      s2
    }

  /** Reserved partition-column name that switches a table to SYNTHETIC
    * partitioning: every write derives the value from `partitionSrc`
    * (one constant partition when empty — the unpartitioned-table
    * shape; a composite of the source columns otherwise). The SQL
    * catalog hides the column and uses this mode for `CREATE TABLE`
    * without `PARTITIONED BY` / with multiple partition columns.
    */
  val SyntheticPartition = "__gp"

  /** Table property: commits of stats drift before a data commit
    * triggers an automatic re-ANALYZE (stats lifecycle policy).
    */
  val AutoAnalyzeProp = "analyze_after_commits"

  /** Run `body` (a table mutation, or several) retrying on lost
    * optimistic-concurrency races — each retry re-enters the mutation,
    * which re-reads the table at its NEW current version, so the merge
    * semantics apply against the winner's state (never a stale
    * snapshot). Throws the last [[CommitConflictException]] after
    * `maxAttempts`.
    */
  def retryOnConflict[T](maxAttempts: Int = 5)(body: => T): T = {
    require(maxAttempts >= 1, s"maxAttempts must be >= 1, got $maxAttempts")
    var attempt = 1
    while (true) {
      try return body
      catch {
        case e: CommitConflictException =>
          if (attempt >= maxAttempts) throw e
          attempt += 1
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Source-side column reference for [[GraftTable.merge]] clause
    * expressions: inside a clause condition or assignment, target
    * columns are bare names and source columns are `src("name")`.
    */
  def src(name: String): org.apache.spark.sql.Column =
    org.apache.spark.sql.functions.col(s"__s_$name")

  /** A WHEN MATCHED clause of [[GraftTable.merge]]. Clauses are
    * evaluated IN ORDER per matched row; the first whose condition
    * holds fires, later clauses never see the row (ANSI/Delta MERGE
    * semantics). A matched row no clause claims stays unchanged.
    */
  sealed trait MatchedClause
  /** UPDATE SET: assigned columns take their expression (over target
    * bare names + [[src]] names), unassigned columns keep their value.
    */
  final case class MatchedUpdate(
    cond: org.apache.spark.sql.Column,
    set: Map[String, org.apache.spark.sql.Column]) extends MatchedClause
  /** DELETE: the matched row is removed. */
  final case class MatchedDelete(
    cond: org.apache.spark.sql.Column) extends MatchedClause

  /** Subquery MEMBERSHIP constraint for [[GraftTable.deleteWhereIn]] /
    * [[GraftTable.updateWhereIn]] — the executable form of one DML
    * subquery conjunct (`WHERE c IN (SELECT …)`, `NOT IN`, `EXISTS`,
    * `NOT EXISTS`, correlated or not). A row QUALIFIES when some
    * subquery row satisfies every `(target column = subquery output
    * column INDEX)` pair; `negated` flips it (NO subquery row may):
    *
    *   - IN:         `pairs` = (inColumn -> 0) ++ correlation pairs
    *   - EXISTS:     `pairs` = the correlation pairs
    *   - NOT EXISTS: `negated = true`
    *   - NOT IN:     `negated = true, nullAware = true` — the FIRST
    *     pair is the IN column with SQL three-valued semantics (an
    *     EMPTY subquery qualifies every row; ANY null member qualifies
    *     none; a null probe value never qualifies), remaining pairs are
    *     plain correlation equalities evaluated per group.
    *
    * `pairs` may be empty only for (NOT) EXISTS — the uncorrelated
    * form, decided by one subquery non-emptiness probe. Execution is
    * always a DISTRIBUTED hash semi/anti join (or a 1:1 marker join on
    * the UPDATE path) against the materialized subquery frame — never a
    * collected IN list, never a nested-loop join: the null-aware edges
    * resolve via one small aggregate of the subquery, not a join
    * disjunction.
    */
  final case class Membership(pairs: Seq[(String, Int)],
                              frame: org.apache.spark.sql.DataFrame,
                              negated: Boolean = false,
                              nullAware: Boolean = false)
  object Membership {
    /** `c IN (single-column uncorrelated subquery)` — the round-10 shape. */
    def inSet(column: String, frame: org.apache.spark.sql.DataFrame): Membership =
      Membership(Seq(column -> 0), frame)
  }

  /** Widening lattice for METADATA-ONLY `ALTER COLUMN TYPE` — exactly
    * the pairs Spark 4.1's parquet readers (vectorized AND row-based)
    * serve over narrower file types, probed by
    * [[graft.tools.WidenProbe]]: the integral up-chain and
    * float → double. Zone-map canon tags are INVARIANT under these
    * pairs (integral types share the 'l' tag, floating the 'd' tag),
    * so the persisted stats/Bloom log stays valid unchanged.
    */
  val Widenings: Set[(org.apache.spark.sql.types.DataType,
                      org.apache.spark.sql.types.DataType)] = {
    import org.apache.spark.sql.types._
    val ints = Seq[DataType](ByteType, ShortType, IntegerType, LongType)
    (for {
      (from, i) <- ints.zipWithIndex
      to <- ints.drop(i + 1)
    } yield from -> to).toSet + (FloatType -> (DoubleType: DataType))
  }

  /** A persisted per-(file, column) Bloom filter with its geometry:
    * modulus = 64 × words.length bits, `k` hash probes.
    */
  private[operators] final case class BloomEntry(k: Int, words: Array[Long])

  /** One column's zone map as a PARQUET CHECKPOINT column (see
    * [[CkptRow]]): canonical min/max strings (null/null with a non-null
    * struct = proven all-null), tag = the stats type tag.
    */
  private[operators] final case class CkptCol(tag: String, nulls: Long,
                                              mn: String, mx: String)

  /** One column's Bloom filter in the parquet checkpoint. */
  private[operators] final case class CkptBloom(k: Int, words: Seq[Long])

  /** One live file in a PARQUET CHECKPOINT MANIFEST: every
    * [[CheckpointEvery]]-th version persists the full live set as a
    * parquet table (file path, row count, zone maps and Bloom filters
    * AS COLUMNS) instead of a JSON list in the manifest, so the JSON
    * stays O(commit) at any table size. A reader collects the rows
    * once per JVM ([[cachedCkpt]]) and evaluates data skipping on the
    * driver over them. `rows` = -1 when unknown (stats-free commit);
    * empty maps = no stats recorded.
    */
  private[operators] final case class CkptRow(file: String, rows: Long,
                                              stats: Map[String, CkptCol],
                                              blooms: Map[String, CkptBloom])

  /** A version resolved: its live files plus the zone maps and Bloom
    * entries recorded for them (entries of dead files may linger —
    * lookups are by live path).
    */
  private[operators] final case class Snapshot(
    files: Seq[String], stats: Map[String, FileStats],
    blooms: Map[(String, String), BloomEntry])

  /** JVM-wide cache of collected checkpoints, keyed by the immutable
    * (table path, version, nonce) identity of a committed checkpoint:
    * one parquet read per checkpoint per JVM, LRU-bounded. Its size is
    * live files × indexed columns per checkpoint, for at most 64.
    */
  private val ckptCache =
    new java.util.LinkedHashMap[(String, Long, String), Snapshot](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, Long, String), Snapshot]): Boolean =
        size > 64
    }

  private[operators] def cachedCkpt(key: (String, Long, String))
                                   (load: => Snapshot): Snapshot = {
    val hit = ckptCache.synchronized(ckptCache.get(key))
    if (hit != null) return hit
    // load OUTSIDE the monitor — it runs a Spark collect, and holding
    // the JVM-global lock through it would stall every other table's
    // cache hits; a racing duplicate load is harmless (same immutable
    // checkpoint content)
    val v = load
    ckptCache.synchronized(ckptCache.put(key, v))
    v
  }
}

/** Thrown when a commit loses the optimistic-concurrency race: another
  * writer committed the same next version first. The loser's data files
  * are cleaned up before the throw; callers re-read the table (their
  * snapshot is stale) and retry the whole mutation.
  */
final class CommitConflictException(message: String)
  extends RuntimeException(message)

/** Thrown when a mutation's rows (or, at [[GraftTable.addCheck]] time,
  * the existing table) violate a CHECK constraint. Raised BEFORE any
  * file or manifest lands, so a failed mutation leaves no trace.
  */
final class CheckViolationException(message: String)
  extends RuntimeException(message)

/** Thrown by [[GraftTable.mergeBatch]] when the caller pinned the txn
  * anchor it computed its batch FROM (`expectedLastBatch`) and another
  * writer advanced it meanwhile — applying the batch would double-count
  * the overlap. The check reads the anchor at the SAME version the OCC
  * commit is anchored to, so no interleaving escapes it: callers
  * recompute their delta from the new anchor and retry.
  */
final class StaleTxnAnchorException(message: String)
  extends RuntimeException(message)

/** Per-file zone map for one column: null count and the canonical
  * min/max (None = the file has no non-null value for the column, so
  * NO range predicate on it can match any of the file's rows).
  */
private[operators] final case class ColStats(
  tag: Char, nulls: Long, min: Option[String], max: Option[String])

/** Per-file statistics carried in the stats log (`_graft_log/sNNNNNN.txt`). */
private[operators] final case class FileStats(rows: Long, cols: Map[String, ColStats])

/** @note VERSIONED: every mutation commits a new manifest under
  *       `_graft_log/` describing the data files LIVE in that version;
  *       data files are only ever ADDED, never deleted by a mutation
  *       (the Delta/Iceberg discipline — replaced files stay on disk
  *       for [[GraftTable.readAt]] time travel until [[GraftTable.vacuum]]
  *       reclaims them).
  *
  *       COMMIT SHAPE (the 100 TB contract): a mutation's commit I/O is
  *       O(files written by THAT commit), never O(table files) — new
  *       files are written into a per-commit staging directory (so
  *       "what did I add" is one small-directory listing, not a
  *       full-table walk) and moved into their partition directories;
  *       the manifest committed is a DELTA (`{dropped partitions,
  *       added files}`) with a periodic full checkpoint every
  *       [[GraftTable.CheckpointEvery]] versions bounding replay depth.
  *       The only full tree walk left is the one-time legacy-table
  *       baseline upgrade.
  *
  *       CONCURRENCY: optimistic, single-winner. Each mutation snapshots
  *       the current version at entry and commits version base+1 via an
  *       atomic exclusive hard-link — if another writer committed base+1
  *       first, the link fails, the loser's freshly-added data files are
  *       deleted (they are in no manifest, so nothing is orphaned) and a
  *       [[CommitConflictException]] tells the caller to re-read and
  *       retry. Exactly one writer wins any version; manifests are never
  *       overwritten.
  *
  *       SCHEMA EVOLUTION: a mutation whose rows carry NEW columns
  *       evolves the table schema in place (new columns appended
  *       nullable); old versions and old files read through the evolved
  *       schema with nulls for the missing columns. A mutation MISSING
  *       table columns is padded with typed nulls — the reference's own
  *       permissive-schema intent (`storage/azurestoragewrapper.py:
  *       137-138`) applied to the versioned table. Key and partition
  *       columns are always required; an overlapping column with a
  *       DIFFERENT type is rejected (no type evolution).
  *
  *       ZONE MAPS (opt-in via `statsCols`): commits record per-file
  *       min/max/null-count for the named columns in a stats log that
  *       mirrors the manifest chain; [[readWhereBetween]] prunes files
  *       whose ranges cannot intersect a predicate BEFORE reading any
  *       data — the Delta/Iceberg data-skipping tier on top of
  *       partition pruning and parquet row-group stats.
  *
  *       DELETION VECTORS: [[deleteWhere]] commits row-level deletes as
  *       (file, row-position) vectors — no data file rewritten — which
  *       every read subtracts version-gated via `_metadata.row_index`;
  *       rewrites/compaction purge them physically, vacuum merges and
  *       sweeps them. NOT visible to [[readChangesSince]] (a DV commit
  *       adds no files) — use [[deleteByKeys]] under CDC consumers.
  *
  *       EXACTLY-ONCE SINK: [[upsertReplaceBatch]] records (appId,
  *       batchId) atomically with the commit (`#txn:` markers, the
  *       Delta SetTransaction discipline) and skips replayed batches,
  *       making at-least-once `foreachBatch` delivery exactly-once.
  */
final class GraftTable(spark: SparkSession, val path: String,
                       val keys: Seq[String], val partitionCol: String,
                       val statsCols: Seq[String] = Nil,
                       val bloomCols: Seq[String] = Nil,
                       val bloomBits: Int = 1024,
                       val partitionSrc: Seq[String] = Nil,
                       val partitionXform: Seq[String] = Nil) {

  import GraftTable.{CheckpointEvery, orphanGraceMs}

  require(partitionXform.isEmpty || partitionXform.size == partitionSrc.size,
    s"partitionXform must align 1:1 with partitionSrc " +
      s"(${partitionXform.size} vs ${partitionSrc.size})")

  require(bloomBits % 64 == 0 && bloomBits >= 64 && bloomBits <= (1 << 20),
    s"bloomBits must be a multiple of 64 in [64, 2^20], got $bloomBits")
  /** Hash count for the per-file Bloom index (the [[Bloom]] discipline:
    * position i of value x = first 8 md5 hex digits of "i:<canonical x>"
    * mod bloomBits — deterministic in any engine and recomputable
    * driver-side for the lookup probe).
    */
  private val BloomK = 3

  /** SYNTHETIC PARTITIONING: a table created with `partitionCol` =
    * [[GraftTable.SyntheticPartition]] ("__gp") manages the partition
    * value ITSELF — every write path derives it deterministically from
    * `partitionSrc` ("all" when empty = one single partition, the
    * unpartitioned-table shape; a null-safe composite of the source
    * columns otherwise = multi-column partitioning composed into ONE
    * path level, so the whole single-level manifest/DV/zone machinery
    * applies unchanged). Derivation OVERWRITES any caller-provided
    * value: partition-value consistency is what keeps keyed
    * replace-semantics rewrites exact (a stale value would strand the
    * old row outside the touched set). The column is internal: the SQL
    * catalog hides it from the table schema.
    */
  private def synthetic = partitionCol == GraftTable.SyntheticPartition

  /** HIDDEN-PARTITIONING transform of ONE source column into its
    * partition-path rendering (the Iceberg transform vocabulary over
    * the synthetic machinery): `identity` (default), calendar
    * `years`/`months`/`days`/`hours` over date/timestamp columns
    * (UTC session — rendered as sortable date prefixes), `bucket[n]`
    * (murmur3 mod n — co-locates a high-cardinality key into n
    * directories), `truncate[w]` (string prefix / integral
    * width-floor). Deterministic BY CONSTRUCTION: every write path
    * re-derives the value, so a query never needs to carry the
    * transform — and a mutation can never strand a row in a stale
    * directory.
    */
  private def xformExpr(c: String, xf: String,
                        dt: => org.apache.spark.sql.types.DataType)
      : org.apache.spark.sql.Column = {
    // calendar transforms render in an EXPLICIT UTC zone (pinned on the
    // catalyst expression itself, not the session): partition-value
    // derivation must be session-independent — a writer on a non-UTC
    // session deriving different values than earlier commits for the
    // same rows would silently fragment placement and break the
    // mutation paths' consistent-routing invariant
    def utcRender(fmt: String): org.apache.spark.sql.Column =
      org.apache.spark.sql.graft.Bridge.toColumn(
        org.apache.spark.sql.catalyst.expressions.DateFormatClass(
          org.apache.spark.sql.catalyst.expressions.Cast(
            org.apache.spark.sql.graft.Bridge.toExpression(col(c)),
            org.apache.spark.sql.types.TimestampType, Option("UTC")),
          org.apache.spark.sql.catalyst.expressions.Literal(fmt),
          Option("UTC")))
    val raw = xf match {
      case "" | "identity" => col(c).cast("string")
      case "years" => utcRender("yyyy")
      case "months" => utcRender("yyyy-MM")
      case "days" => utcRender("yyyy-MM-dd")
      case "hours" => utcRender("yyyy-MM-dd-HH")
      case b if b.startsWith("bucket[") =>
        val n = b.stripPrefix("bucket[").stripSuffix("]").toInt
        require(n > 0, s"bucket width must be positive, got $n")
        pmod(hash(col(c)), lit(n)).cast("string")
      case t if t.startsWith("truncate[") =>
        val w = t.stripPrefix("truncate[").stripSuffix("]").toInt
        require(w > 0, s"truncate width must be positive, got $w")
        dt match {
          case org.apache.spark.sql.types.StringType =>
            substring(col(c), 1, w)
          case org.apache.spark.sql.types.ByteType |
               org.apache.spark.sql.types.ShortType |
               org.apache.spark.sql.types.IntegerType |
               org.apache.spark.sql.types.LongType =>
            (floor(col(c).cast("long") / w) * w).cast("string")
          case other => throw new IllegalArgumentException(
            s"truncate[$w] supports string/integral columns, " +
              s"got ${other.simpleString} for '$c'")
        }
      case other => throw new IllegalArgumentException(
        s"unknown partition transform '$other' on column '$c'")
    }
    coalesce(raw, lit("\u0002"))
  }

  private def deriveGp(df: DataFrame): DataFrame =
    if (!synthetic) df
    else {
      val xfs =
        if (partitionXform.nonEmpty) partitionXform
        else partitionSrc.map(_ => "identity")
      val v =
        if (partitionSrc.isEmpty) lit("all")
        else concat_ws("\u0001", partitionSrc.zip(xfs).map { case (c, xf) =>
          xformExpr(c, xf, df.schema(c).dataType)
        }: _*)
      df.withColumn(partitionCol, v)
    }

  /** Idempotent create (K1): materializes the table directory, a
    * schema sidecar, and version 1 (the empty manifest) once. (An empty
    * partitioned parquet write produces no data files, so the sidecar is
    * what lets `read` work pre-first-row.)
    */
  def createIfNotExists(schema0: org.apache.spark.sql.types.StructType): this.type = {
    // synthetic tables carry their derived partition column internally
    val schema =
      if (synthetic && !schema0.fieldNames.contains(partitionCol))
        org.apache.spark.sql.types.StructType(schema0.fields :+
          org.apache.spark.sql.types.StructField(partitionCol,
            org.apache.spark.sql.types.StringType, nullable = true))
      else schema0
    if (!exists) {
      // overwrite: `exists` just said there is NO committed data here —
      // at most an empty/partial directory from a crashed write, which
      // this create recovers by replacing
      microsWrite(spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema))
        .write.mode(SaveMode.Overwrite).partitionBy(partitionCol).parquet(path)
      java.nio.file.Files.writeString(schemaSidecar, schema.json)
      commitEntries(0L, Seq.empty)
    }
    this
  }

  // ------------------------------------------------ version log (history)

  private def logDir = java.nio.file.Paths.get(path, "_graft_log")

  private def manifestPath(v: Long) = logDir.resolve(f"v$v%06d.json")

  /** All committed versions, ascending (empty for a legacy/no-log table). */
  def versions: Seq[Long] = {
    val d = logDir.toFile
    Option(d.listFiles()).getOrElse(Array.empty)
      .flatMap { f =>
        val n = f.getName
        if (n.startsWith("v") && n.endsWith(".json"))
          scala.util.Try(n.stripPrefix("v").stripSuffix(".json").toLong).toOption
        else None
      }.sorted.toSeq
  }

  /** Latest committed version (0 = no version log yet). */
  def currentVersion: Long = versions.lastOption.getOrElse(0L)

  /** Parse a log file's string-array body (manifest or stats): format
    * `{"version":N,"files":["entry", ...]}` with \-escaped quotes/
    * backslashes in paths (Hive %-escaping keeps them rare). None if
    * the file does not exist.
    */
  private def parseEntryFile(p: java.nio.file.Path): Option[Seq[String]] =
    if (!java.nio.file.Files.exists(p)) None
    else {
      val txt = java.nio.file.Files.readString(p)
      val body = txt.substring(txt.indexOf('[') + 1, txt.lastIndexOf(']'))
      Some(if (body.trim.isEmpty) Seq.empty
      else body.split("\",\\s*\"").toSeq
        .map(_.stripPrefix("\"").stripSuffix("\"")
          .replace("\\\"", "\"").replace("\\\\", "\\")))
    }

  /** The manifest's raw string entries (paths, or delta/marker entries). */
  private def rawEntries(v: Long): Seq[String] =
    parseEntryFile(manifestPath(v)).getOrElse(
      throw new IllegalArgumentException(s"version $v has no manifest at ${manifestPath(v)}"))

  private def isDelta(entries: Seq[String]): Boolean =
    entries.headOption.contains("#delta")

  /** The manifest chain of `v`: the base version (a full JSON listing
    * or a `#ckpt:` parquet checkpoint), its entries, and the ≤
    * [[GraftTable.CheckpointEvery]] delta manifests after it, oldest
    * first — the one log walk every replay shares.
    */
  private def chainOf(v: Long): (Long, Seq[String], Seq[(Long, Seq[String])]) = {
    var at = v
    var cur = rawEntries(at)
    val deltas = scala.collection.mutable.ListBuffer.empty[(Long, Seq[String])]
    while (isDelta(cur)) {
      deltas.prepend((at, cur))
      at -= 1
      cur = rawEntries(at)
    }
    (at, cur, deltas.toSeq)
  }

  /** Version `v` resolved from its chain: the base's live files and
    * stats — a checkpoint's rows (collected once per JVM,
    * [[GraftTable.cachedCkpt]]), or a full-JSON listing with its stats
    * chain — then each delta applied with its own stats file. Entries
    * starting with `#` are commit METADATA (delta marker, deletion-
    * vector / transaction / checkpoint markers), never live files.
    * Never touches the data tree.
    */
  private def snapshot(v: Long): GraftTable.Snapshot = {
    val (baseAt, base, deltas) = chainOf(v)
    val start = base.collectFirst {
      case e if e.startsWith("#ckpt:") => e.stripPrefix("#ckpt:")
    } match {
      case Some(nonce) =>
        GraftTable.cachedCkpt((path, baseAt, nonce)) {
          fromCkptRows(spark.read.schema(ckptSchema)
            .parquet(ckptDirFor(baseAt, nonce).toString)
            .as(ckptEncoder).collect().toSeq)
        }
      case None =>
        applyDelta(GraftTable.Snapshot(Nil, Map.empty, Map.empty), Nil,
          base.filterNot(_.startsWith("#")), statChainEntries(baseAt))
    }
    deltas.foldLeft(start) { case (s, (dv, entries)) =>
      applyDelta(s,
        entries.collect { case e if e.startsWith("-") => e.drop(1) },
        entries.collect { case e if e.startsWith("+") => e.drop(1) },
        parseEntryFile(statsPath(dv)).getOrElse(Nil))
    }
  }

  /** `s` after one commit: files under `dropDirs` leave the live set,
    * `added` join it, and the commit's stats/Bloom `entries` (stats-log
    * encoding; `#` headers skipped) describe them.
    */
  private def applyDelta(s: GraftTable.Snapshot, dropDirs: Seq[String],
                         added: Seq[String],
                         entries: Seq[String]): GraftTable.Snapshot = {
    val (bl, st) = entries.filterNot(_.startsWith("#")).partition(_.startsWith("!"))
    GraftTable.Snapshot(
      s.files.filterNot(f => dropDirs.exists(d => f.startsWith(d + "/"))) ++ added,
      s.stats ++ st.map(decodeStats), s.blooms ++ bl.map(decodeBloom))
  }

  /** Relative data-file paths LIVE in `v` (≤
    * [[GraftTable.CheckpointEvery]] manifest reads).
    */
  private def manifestFiles(v: Long): Seq[String] = snapshot(v).files

  // ------------------------------------------ parquet checkpoint manifests

  private def ckptRoot = logDir.resolve("ckpt")
  private def ckptDirFor(v: Long, nonce: String) =
    ckptRoot.resolve(f"v$v%06d_$nonce")

  private lazy val ckptEncoder =
    org.apache.spark.sql.Encoders.product[GraftTable.CkptRow]
  private lazy val ckptSchema = ckptEncoder.schema

  /** Write `rows` as the checkpoint `(v, nonce)` and return its
    * resolved form: a caller that caches it once the manifest is
    * committed saves the next reader the collect job.
    */
  private def writeCkpt(v: Long, nonce: String,
                        rows: Seq[GraftTable.CkptRow]): GraftTable.Snapshot = {
    java.nio.file.Files.createDirectories(ckptRoot)
    spark.createDataset(rows)(ckptEncoder).write.mode(SaveMode.Overwrite)
      .parquet(ckptDirFor(v, nonce).toString)
    fromCkptRows(rows)
  }

  /** Checkpoint rows for `s`'s live files (a file without stats gets
    * `rows` = -1 and empty maps — unprunable, never wrong).
    */
  private def ckptRows(s: GraftTable.Snapshot): Seq[GraftTable.CkptRow] = {
    val blooms = s.blooms.groupBy(_._1._1)
    s.files.map { f =>
      val fs = s.stats.get(f)
      GraftTable.CkptRow(f, fs.map(_.rows).getOrElse(-1L),
        fs.map(_.cols.map { case (c, cs) =>
          c -> GraftTable.CkptCol(cs.tag.toString, cs.nulls,
            cs.min.orNull, cs.max.orNull)
        }).getOrElse(Map.empty),
        blooms.getOrElse(f, Map.empty).map { case ((_, c), be) =>
          c -> GraftTable.CkptBloom(be.k, be.words.toSeq)
        })
    }
  }

  private def fromCkptRows(rows: Seq[GraftTable.CkptRow]): GraftTable.Snapshot =
    GraftTable.Snapshot(rows.map(_.file).sorted,
      rows.collect { case r if r.rows >= 0 =>
        r.file -> FileStats(r.rows, r.stats.map { case (c, cc) =>
          c -> ColStats(cc.tag.head, cc.nulls, Option(cc.mn), Option(cc.mx))
        })
      }.toMap,
      rows.flatMap(r => r.blooms.map { case (c, b) =>
        (r.file, c) -> GraftTable.BloomEntry(b.k, b.words.toArray)
      }).toMap)

  /** STREAMING-SINK IDEMPOTENCY STATE (the Delta `SetTransaction`
    * discipline): the highest batch id committed per writer app, replayed
    * from `#txn:` manifest markers. Full checkpoints carry the latest
    * marker per app forward, so resolution is bounded by the same ≤
    * [[GraftTable.CheckpointEvery]] log reads as [[manifestFiles]].
    */
  private def txnState(v: Long): Map[String, Long] = {
    if (v <= 0L) return Map.empty
    val (_, base, deltas) = chainOf(v)
    // earliest-to-latest; later markers for the same app win
    (base +: deltas.map(_._2)).flatMap(_.collect {
      case e if e.startsWith("#txn:") =>
        val parts = e.stripPrefix("#txn:").split(":", 2)
        parts(0) -> parts(1).toLong
    }).foldLeft(Map.empty[String, Long]) { case (m, (app, b)) => m + (app -> b) }
  }

  /** Atomically commit version `base`+1. The hard link is the OCC
    * gate: link creation onto an existing target fails atomically, so
    * of two racing writers exactly one commits base+1 and the other
    * gets [[CommitConflictException]] (fallback: exclusive move, for
    * filesystems without hard links).
    */
  private def commitEntries(base: Long, entries: Seq[String]): Long = {
    java.nio.file.Files.createDirectories(logDir)
    val v = base + 1
    def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")
    val json = entries.map(f => "\"" + esc(f) + "\"")
      .mkString(s"""{"version":$v,"files":[""", ",", "]}")
    val tmp = logDir.resolve(
      s".tmp_v${v}_${java.util.UUID.randomUUID().toString.take(8)}")
    java.nio.file.Files.writeString(tmp, json)
    try {
      try java.nio.file.Files.createLink(manifestPath(v), tmp)
      catch {
        case _: UnsupportedOperationException =>
          java.nio.file.Files.move(tmp, manifestPath(v))
      }
      v
    } catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        throw new CommitConflictException(
          s"table $path: version $v was committed by another writer " +
            s"(this mutation read version $base) — re-read and retry")
    } finally {
      java.nio.file.Files.deleteIfExists(tmp); ()
    }
  }

  /** Commit `base`+1 as a delta (or a PARQUET CHECKPOINT every
    * [[GraftTable.CheckpointEvery]] versions): files under `dropDirs`
    * leave the live set, `added` join it. `markers` are `#`-prefixed
    * metadata entries committed WITH this version (deletion-vector /
    * transaction markers — atomic with the manifest, the Delta-action
    * discipline). This commit's zone-map/Bloom `statsEntries` land in
    * the stats log (delta commits) or as checkpoint columns.
    *
    * A checkpoint version writes the full live set — with per-file
    * stats and Bloom words as COLUMNS — as a parquet table under
    * `_graft_log/ckpt/` (the previous version's snapshot with this
    * commit applied), and its JSON manifest carries only markers plus
    * `#ckpt:<nonce>`: O(1) driver JSON at any table size, with the
    * latest `#txn:` marker per app carried forward so idempotency state
    * survives checkpointing. A losing OCC writer deletes its checkpoint
    * dir (it is referenced by no manifest); a crash before the manifest
    * link leaves an orphan dir that vacuum sweeps.
    */
  private def commitDelta(base: Long, dropDirs: Seq[String],
                          added: Seq[String],
                          markers: Seq[String] = Nil,
                          statsEntries: Seq[String] = Nil): Long = {
    val v = base + 1
    if (v % CheckpointEvery == 0) {
      val nonce = java.util.UUID.randomUUID().toString.take(8)
      val snap = writeCkpt(v, nonce,
        ckptRows(applyDelta(snapshot(base), dropDirs, added, statsEntries)))
      val newTxnApps = markers.collect {
        case e if e.startsWith("#txn:") => e.stripPrefix("#txn:").split(":", 2)(0)
      }.toSet
      val carried = txnState(base).collect {
        case (app, b) if !newTxnApps.contains(app) => s"#txn:$app:$b"
      }.toSeq
      // the checkpoint manifest ALSO records this commit's own delta
      // (+files / -dirs, marked complete by #cdelta): range-diff
      // consumers (the streaming source) replay O(changed files) per
      // batch without resolving either endpoint's live list, even
      // across checkpoint versions. manifestFiles ignores these (the
      // #ckpt base wins); legacy checkpoints lack #cdelta and make the
      // range fall back to the live diff.
      val nv =
        try commitEntries(base,
          (carried ++ markers ++ dropDirs.sorted.map("-" + _) ++
            added.sorted.map("+" + _) :+ s"#cdelta" :+ s"#ckpt:$nonce").sorted)
        catch {
          case e: CommitConflictException =>
            Fs.deleteTree(ckptDirFor(v, nonce))
            throw e
        }
      GraftTable.cachedCkpt((path, nv, nonce))(snap)
      maybeAutoAnalyze(nv)
      nv
    } else {
      val nv = commitEntries(base, "#delta" +: (markers.sorted ++
        dropDirs.sorted.map("-" + _) ++ added.sorted.map("+" + _)))
      writeStatsDelta(nv, statsEntries)
      maybeAutoAnalyze(nv)
      nv
    }
  }

  // ------------------------------------------- file statistics (zone maps)
  //
  // When `statsCols` is non-empty every commit also records per-file
  // min/max/null-count ZONE MAPS for those columns (the Delta/Iceberg
  // data-skipping discipline): collected by one Spark job over JUST the
  // commit's files (O(commit data), never O(table)), persisted in a
  // stats log that mirrors the manifest chain (deltas + a full
  // checkpoint every CheckpointEvery versions, so resolution is bounded
  // the same way), and consulted by [[readWhereBetween]] to prune files
  // whose [min,max] cannot intersect a range predicate — metadata-only
  // skipping BEFORE any data is read. Pair with
  // [[compact(parallelism:Int,clusterBy:Seq[String])*]] clustering to
  // make the zone maps selective. A missing stats file (crash window,
  // legacy commit) degrades safely: its files are simply unprunable.

  private def statsPath(v: Long) = logDir.resolve(f"s$v%06d.txt")

  private def b64e(s: String) = java.util.Base64.getEncoder
    .encodeToString(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  private def b64d(s: String) = new String(
    java.util.Base64.getDecoder.decode(s), java.nio.charset.StandardCharsets.UTF_8)

  /** Stats type tag for a column type; None = not zone-mappable. */
  private def statTag(dt: org.apache.spark.sql.types.DataType): Option[Char] = {
    import org.apache.spark.sql.types._
    dt match {
      case ByteType | ShortType | IntegerType | LongType => Some('l')
      case FloatType | DoubleType => Some('d')
      case StringType => Some('s')
      case BooleanType => Some('b')
      case DateType => Some('D')
      case TimestampType => Some('t')
      case _ => None
    }
  }

  /** Canonical typed form for extrema: integral → long, fractional →
    * double, date → epoch days, timestamp → epoch micros — engine-
    * neutral values that serialize and compare exactly.
    */
  private def canonTyped(c: org.apache.spark.sql.Column, tag: Char) = tag match {
    case 'l' => c.cast("long")
    case 'd' => c.cast("double")
    case 's' => c
    case 'b' => c.cast("int")
    case 'D' => datediff(c, to_date(lit("1970-01-01"))).cast("long")
    case 't' => unix_micros(c)
  }

  /** One stats-log entry: `b64(rel);rows` then `b64(col);tag;nulls;
    * b64(min);b64(max)` per column — base64 + digits + ';' only, so the
    * manifest file format needs no new escaping.
    */
  private def encodeStats(rel: String, fs: FileStats): String = {
    val cols = fs.cols.toSeq.sortBy(_._1).map { case (c, cs) =>
      Seq(b64e(c), cs.tag.toString, cs.nulls.toString,
        cs.min.map(b64e).getOrElse(""), cs.max.map(b64e).getOrElse("")).mkString(";")
    }
    (Seq(b64e(rel), fs.rows.toString) ++ cols).mkString(";")
  }

  private def decodeStats(entry: String): (String, FileStats) = {
    val t = entry.split(";", -1)
    val cols = t.drop(2).grouped(5).collect { case Array(c, tg, nl, mn, mx) =>
      b64d(c) -> ColStats(tg.head, nl.toLong,
        if (mn.isEmpty) None else Some(b64d(mn)),
        if (mx.isEmpty) None else Some(b64d(mx)))
    }.toMap
    b64d(t(0)) -> FileStats(t(1).toLong, cols)
  }

  /** Zone maps + Bloom filters for `added` (table-relative paths).
    * MIN/MAX/NULL-COUNT comes from the parquet FOOTERS of the files the
    * commit just wrote — the writer already computed per-row-group
    * statistics, so harvesting them reads zero data pages and removes
    * the per-commit read amplification of re-scanning committed data.
    * Blooms (when enabled) still need one aggregation job, but it is
    * column-pruned to the indexed columns only.
    */
  private def collectStatsEntries(added: Seq[String]): Seq[String] = {
    if ((statsCols.isEmpty && bloomCols.isEmpty) || added.isEmpty) return Nil
    val schema = sidecarSchemaOpt.getOrElse(return Nil)
    val tagged = schema.fields.toSeq
      .filter(f => statsCols.contains(f.name) && f.name != partitionCol)
      .flatMap(f => statTag(f.dataType).map(t => f.name -> t))
    val bloomTagged = schema.fields.toSeq
      .filter(f => bloomCols.contains(f.name) && f.name != partitionCol)
      .flatMap(f => statTag(f.dataType).map(t => f.name -> t))
    if (tagged.isEmpty && bloomTagged.isEmpty) return Nil
    val statEntries =
      if (tagged.isEmpty) Nil else footerStatsEntries(added, tagged)
    val bloomEntries =
      if (bloomTagged.isEmpty) Nil else bloomEntriesJob(added, bloomTagged, schema)
    statEntries ++ bloomEntries
  }

  /** Per-file zone maps harvested from parquet footers (no data read):
    * row count from the block metadata, min/max/null-count merged
    * across the file's row groups. Conservative by construction — a
    * column whose footer statistics are missing, untrustworthy
    * (unknown null count on a value-less chunk, NaN double bounds,
    * INT96 timestamps) or type-incompatible is simply OMITTED for that
    * file, which degrades to unprunable, never to a wrong prune.
    * Truncated binary min/max (parquet lowers the min / raises the max
    * when it truncates) stay valid range bounds. At 100 TB the same
    * harvest distributes trivially (footers are O(KB) metadata reads);
    * driver-side here matches the commit's O(files-written) scale.
    */
  private def footerStatsEntries(added: Seq[String],
                                 tagged: Seq[(String, Char)]): Seq[String] = {
    import scala.jdk.CollectionConverters._
    import scala.collection.parallel.CollectionConverters._
    val conf = spark.sessionState.newHadoopConf()
    // footer opens are independent ~KB metadata reads; a commit's file
    // list is small but each local open costs ~10-30 ms — overlap them
    added.par.flatMap { f =>
      val rel = f.split('/').takeRight(2).mkString("/")
      scala.util.Try {
        val in = org.apache.parquet.hadoop.util.HadoopInputFile
          .fromPath(new org.apache.hadoop.fs.Path(s"$path/$f"), conf)
        val rdr = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try {
          val blocks = rdr.getFooter.getBlocks.asScala.toSeq
          val rows = blocks.map(_.getRowCount).sum
          val cols = tagged.flatMap { case (c, t) =>
            footerColStats(blocks, c, t).map(c -> _)
          }.toMap
          if (cols.isEmpty) None else Some(encodeStats(rel, FileStats(rows, cols)))
        } finally rdr.close()
      }.toOption.flatten
    }.seq.toSeq
  }

  /** One column's ColStats from a file's row-group footers, or None if
    * any row group's statistics cannot be trusted for pruning.
    */
  private def footerColStats(
      blocks: Seq[org.apache.parquet.hadoop.metadata.BlockMetaData],
      name: String, tag: Char): Option[ColStats] = {
    import scala.jdk.CollectionConverters._
    var nulls = 0L
    var mn: Option[String] = None
    var mx: Option[String] = None
    for (b <- blocks) {
      val cc = b.getColumns.asScala.find(_.getPath.toDotString == name)
        .getOrElse(return None) // column absent from this block
      val st = cc.getStatistics
      if (st == null || !st.isNumNullsSet) return None
      nulls += st.getNumNulls
      if (st.hasNonNullValue) {
        val lo = footerCanon(st.genericGetMin, cc, tag).getOrElse(return None)
        val hi = footerCanon(st.genericGetMax, cc, tag).getOrElse(return None)
        mn = Some(mn.filter(m => cmpCanon(tag, m, lo) <= 0).getOrElse(lo))
        mx = Some(mx.filter(m => cmpCanon(tag, m, hi) >= 0).getOrElse(hi))
      } else if (st.getNumNulls != cc.getValueCount) {
        // values exist but no min/max recorded — unprunable, not all-null
        return None
      }
    }
    Some(ColStats(tag, nulls, mn, mx)) // mn/mx None ⇒ proven all-null
  }

  /** A footer statistics value in the canonical engine-neutral form of
    * [[canonTyped]], or None when the physical/logical type cannot
    * represent the tag exactly (e.g. INT96 timestamps, NaN bounds).
    */
  private def footerCanon(
      v: Any, cc: org.apache.parquet.hadoop.metadata.ColumnChunkMetaData,
      tag: Char): Option[String] = {
    import org.apache.parquet.schema.LogicalTypeAnnotation
    (tag, v) match {
      case ('l', n: Number) => Some(n.longValue.toString)
      case ('d', n: Number) =>
        val d = n.doubleValue
        if (java.lang.Double.isNaN(d)) None else Some(d.toString)
      case ('s', b: org.apache.parquet.io.api.Binary) =>
        Some(b.toStringUsingUTF8)
      case ('b', bo: java.lang.Boolean) => Some(if (bo) "1" else "0")
      case ('D', n: Number) => Some(n.longValue.toString) // INT32 epoch days
      case ('t', n: Number) =>
        cc.getPrimitiveType.getLogicalTypeAnnotation match {
          case ts: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
            ts.getUnit match {
              case LogicalTypeAnnotation.TimeUnit.MICROS =>
                Some(n.longValue.toString)
              case LogicalTypeAnnotation.TimeUnit.MILLIS =>
                Some((n.longValue * 1000L).toString)
              case _ => None // NANOS surface as raw longs ('l'), not 't'
            }
          case _ => None // INT96: deprecated, unordered statistics
        }
      case _ => None
    }
  }

  /** Per-file Bloom bitmaps: one aggregation job over the commit's own
    * files, COLUMN-PRUNED to the indexed columns (the per-row masks are
    * the only data read). Keyed by partitionDir/basename — basenames
    * alone collide across a commit's partition dirs (they share one
    * task numbering).
    */
  private def bloomEntriesJob(added: Seq[String],
                              bloomTagged: Seq[(String, Char)],
                              schema: org.apache.spark.sql.types.StructType): Seq[String] = {
    val nonPart = org.apache.spark.sql.types.StructType(
      schema.fields.filterNot(_.name == partitionCol))
    val byRel = added.map(f => f.split('/').takeRight(2).mkString("/") -> f).toMap
    val words = bloomBits / 64
    // per-row Bloom mask per bitmap word (bit_or'd per file below): the
    // row's k md5 positions each light one bit; nulls hash to null → no
    // bits — computed as explicit columns so the per-file agg is plain
    val base = spark.read.schema(nonPart).parquet(added.map(f => s"$path/$f"): _*)
      .select(bloomTagged.map { case (c, _) => col(c) }: _*)
    val withMasks = bloomTagged.foldLeft(base) { case (d, (c, t)) =>
      val canon = canonTyped(col(c), t).cast("string")
      val withPos = (0 until BloomK).foldLeft(d) { case (dd, i) =>
        dd.withColumn(s"__bp__${c}__$i",
          conv(substring(md5(concat(lit(s"$i:"), canon)), 1, 8), 16, 10)
            .cast("long") % bloomBits)
      }
      (0 until words).foldLeft(withPos) { case (d2, w) =>
        val terms = (0 until BloomK).map(i =>
          s"(CASE WHEN `__bp__${c}__$i` DIV 64 = $w THEN " +
            s"shiftleft(CAST(1 AS BIGINT), CAST(`__bp__${c}__$i` % 64 AS INT)) " +
            "ELSE CAST(0 AS BIGINT) END)")
        d2.withColumn(s"__bw__${c}__$w", expr(terms.mkString(" | ")))
      }
    }
    val bloomAggs = bloomTagged.flatMap { case (c, _) =>
      (0 until words).map(w =>
        expr(s"bit_or(`__bw__${c}__$w`)").as(s"__bb__${c}__$w"))
    }
    val got = withMasks
      .groupBy(input_file_name().as("__f"))
      .agg(bloomAggs.head, bloomAggs.tail: _*)
      .collect()
    got.toSeq.flatMap { r =>
      byRel.get(r.getString(0).split('/').takeRight(2).mkString("/")).toSeq
        .flatMap { rel =>
          bloomTagged.zipWithIndex.map { case ((c, _), bi) =>
            val ws = (0 until words).map { w =>
              val cell = r.get(1 + bi * words + w)
              if (cell == null) 0L else cell.asInstanceOf[Long]
            }
            encodeBloom(rel, c, BloomK, ws)
          }
        }
    }
  }

  /** Stats-log entries describing a FULL-JSON base `v`: its stats file
    * and earlier ones, back to a legacy `#sfull` file or the oldest
    * version (missing files — crash windows, stats-free commits — are
    * skipped; their files are simply unprunable). Entries for dead
    * files are harmless: lookups are by live path. A checkpoint base
    * carries its stats as columns instead.
    */
  private def statChainEntries(v: Long): Seq[String] = {
    var at = v
    var done = false
    val chain = scala.collection.mutable.ListBuffer.empty[Seq[String]]
    while (!done && at >= 1 && java.nio.file.Files.exists(manifestPath(at))) {
      parseEntryFile(statsPath(at)).foreach { es =>
        chain.prepend(es)
        if (es.headOption.contains("#sfull")) done = true
      }
      at -= 1
    }
    chain.toSeq.flatten
  }

  /** Bloom entry v2: `!2;b64(rel);b64(col);k;w0;...;w(bits/64 - 1)` —
    * the filter GEOMETRY travels with the entry (bits = 64·wordCount,
    * hash count k explicit), so a table reopened with a different
    * `bloomBits`/k still probes each entry with the modulus and hash
    * count it was BUILT with — never a false prune, never an
    * out-of-bounds word index. Legacy v1 entries (`!;rel;col;w...`)
    * decode with bits = 64·wordCount (exact: the writer's modulus was
    * its word count × 64 by construction) and the historical k = 3.
    */
  private def encodeBloom(rel: String, c: String, k: Int, words: Seq[Long]): String =
    (Seq("!2", b64e(rel), b64e(c), k.toString) ++ words.map(_.toString)).mkString(";")

  private def decodeBloom(entry: String): ((String, String), GraftTable.BloomEntry) = {
    val t = entry.split(";", -1)
    if (t(0) == "!2")
      (b64d(t(1)), b64d(t(2))) ->
        GraftTable.BloomEntry(t(3).toInt, t.drop(4).map(_.toLong))
    else // legacy v1: words only; geometry recovered from the word count
      (b64d(t(1)), b64d(t(2))) ->
        GraftTable.BloomEntry(3, t.drop(3).map(_.toLong))
  }

  /** Persist a DELTA commit's stats entries for version `v` (atomic
    * move; a crash before this lands degrades to "commit without
    * stats"). Checkpoint versions carry their stats as PARQUET COLUMNS
    * of the checkpoint manifest instead ([[commitDelta]]) — no
    * driver-side full stats file exists anymore; legacy `#sfull` files
    * still parse for pre-checkpoint history.
    */
  private def writeStatsDelta(v: Long, newEntries: Seq[String]): Unit = {
    if (newEntries.isEmpty) return
    val json = ("#sdelta" +: newEntries.sorted).map(e => "\"" + e + "\"")
      .mkString(s"""{"version":$v,"files":[""", ",", "]}")
    val tmp = logDir.resolve(
      s".tmp_s${v}_${java.util.UUID.randomUUID().toString.take(8)}")
    java.nio.file.Files.writeString(tmp, json)
    java.nio.file.Files.move(tmp, statsPath(v),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    ()
  }

  private def cmpCanon(tag: Char, a: String, b: String): Int = tag match {
    case 'd' => java.lang.Double.compare(a.toDouble, b.toDouble)
    case 's' => java.util.Arrays.compareUnsigned(
      a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      b.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    case _ => java.lang.Long.compare(a.toLong, b.toLong) // l, b, D, t
  }

  /** Canonical form of a caller-supplied bound, by stats tag. */
  private def canonValue(x: Any, tag: Char): String = (tag, x) match {
    case ('l', n: Number) => n.longValue.toString
    case ('d', n: Number) => n.doubleValue.toString
    case ('s', s: String) => s
    case ('b', b: Boolean) => if (b) "1" else "0"
    case ('D', d: java.sql.Date) => d.toLocalDate.toEpochDay.toString
    case ('D', d: java.time.LocalDate) => d.toEpochDay.toString
    case ('D', n: Number) => n.longValue.toString
    case ('t', ts: java.sql.Timestamp) =>
      val i = ts.toInstant; (i.getEpochSecond * 1000000L + i.getNano / 1000).toString
    case ('t', i: java.time.Instant) =>
      (i.getEpochSecond * 1000000L + i.getNano / 1000).toString
    case ('t', n: Number) => n.longValue.toString
    case _ => throw new IllegalArgumentException(
      s"bound $x (${x.getClass.getSimpleName}) does not fit stats type '$tag'")
  }

  /** The bound as a Spark literal of the column's type (a Long bound on
    * a date/timestamp column is canonical days/micros).
    */
  private def litOf(x: Any, tag: Char): org.apache.spark.sql.Column = (tag, x) match {
    case ('t', n: Number) => timestamp_micros(lit(n.longValue))
    case ('D', n: Number) => date_add(to_date(lit("1970-01-01")), lit(n.intValue))
    case _ => lit(x)
  }

  private def tagOf(c: String): Char = {
    val schema = sidecarSchemaOpt.getOrElse(throw new IllegalStateException(
      s"table $path has no schema sidecar — stats reads need a created table"))
    val f = schema.fields.find(_.name == c).getOrElse(
      throw new IllegalArgumentException(s"no column '$c' in table $path"))
    statTag(f.dataType).getOrElse(throw new IllegalArgumentException(
      s"column '$c' (${f.dataType.simpleString}) is not zone-mappable"))
  }

  /** Live files that MAY hold a row with `c` in [lo, hi]: a file is
    * pruned when its zone map proves no intersection (or proves the
    * column all-null — a range predicate matches no null). Files
    * without stats always survive.
    */
  def candidateFiles(c: String, lo: Any, hi: Any): Seq[String] =
    candidateFilesRangeAt(physicalName(c), Some(lo), Some(hi), currentVersion)

  // ------------------------------------------------------ data skipping
  //
  // Every pruning entry point evaluates on the driver over the
  // version's resolved snapshot ([[snapshot]]): live files plus their
  // zone maps and Bloom entries. A checkpoint-backed version costs no
  // Spark job once its checkpoint is cached.

  /** The file's zone map for `c` admits `hit(min, max)`: a file without
    * one survives; a file whose `c` is all-null never does (no range or
    * equality predicate matches a null).
    */
  private def zoneMay(s: GraftTable.Snapshot, file: String, c: String)
                     (hit: (String, String) => Boolean): Boolean =
    s.stats.get(file).flatMap(_.cols.get(c)) match {
      case None => true
      case Some(ColStats(_, _, Some(mn), Some(mx))) => hit(mn, mx)
      case _ => false
    }

  /** Live files at `v` that MAY hold `c` equal to one of `canons`
    * (canonical values): some value lies inside the file's zone map AND
    * passes its Bloom probe. A value's k positions are the first 8 hex
    * digits of md5("i:<canonical value>") modulo the bit width — the
    * hash the commit built the filter with. Each entry is probed with
    * its OWN persisted geometry (k and 64 × word count), never this
    * instance's `bloomBits`, so a table reopened with different
    * parameters probes every filter exactly as it was built. Files
    * without a Bloom entry degrade to the zone-map verdict.
    */
  private def equalsCandidates(c: String, tag: Char, canons: Seq[String],
                               v: Long): Seq[String] = {
    val s = snapshot(v)
    val md = java.security.MessageDigest.getInstance("MD5")
    val posCache = scala.collection.mutable.Map.empty[(String, Int, Int), Seq[Int]]
    def posFor(x: String, k: Int, bits: Int): Seq[Int] =
      posCache.getOrElseUpdate((x, k, bits), (0 until k).map { i =>
        val h = md.digest(s"$i:$x".getBytes("UTF-8"))
          .take(4).map("%02x".format(_)).mkString
        (java.lang.Long.parseLong(h, 16) % bits).toInt
      })
    s.files.filter { fl =>
      val bloom = s.blooms.get((fl, c))
      canons.exists { x =>
        zoneMay(s, fl, c)((mn, mx) =>
          cmpCanon(tag, mn, x) <= 0 && cmpCanon(tag, mx, x) >= 0) &&
          bloom.forall(be => posFor(x, be.k, be.words.length * 64)
            .forall(p => (be.words(p / 64) & (1L << (p % 64))) != 0L))
      }
    }
  }

  /** STATS-PRUNED RANGE SCAN: rows with `c` between `lo` and `hi`
    * (inclusive), reading ONLY the files whose zone maps may intersect
    * the range — the data-skipping read. Result ≡ `read.filter(...)` by
    * construction (pruning is conservative; the residual filter still
    * applies). Bounds accept natural Scala/Java types, or canonical
    * longs (days/micros) for date/timestamp columns.
    */
  def readWhereBetween(c: String, lo: Any, hi: Any): DataFrame = {
    val pc = physicalName(c) // stats are keyed physical, the frame is logical
    val tag = tagOf(pc)
    val v = currentVersion // one snapshot for both file list and vectors
    readResolved(candidateFilesRangeAt(pc, Some(lo), Some(hi), v), v)
      .filter(col(c) >= litOf(lo, tag) && col(c) <= litOf(hi, tag))
  }

  /** Live files that MAY hold a row with `c` = `x`: zone-map range
    * pruning (when `c` is in `statsCols`) PLUS the per-file BLOOM test
    * (when `c` is in `bloomCols`) — a file whose bitmap misses ANY of
    * the value's bits cannot hold it. Files without a bloom degrade to
    * the zone-map verdict.
    */
  def candidateFilesEquals(c: String, x: Any): Seq[String] = {
    val v = currentVersion
    candidateFilesEqualsAt(physicalName(c), x, v)
  }

  private def candidateFilesEqualsAt(c: String, x: Any, v: Long): Seq[String] = {
    val tag = tagOf(c)
    equalsCandidates(c, tag, Seq(canonValue(x, tag)), v)
  }

  /** BLOOM-PRUNED POINT LOOKUP: rows with `c` = `x`, reading only files
    * whose Bloom index (and zone map, if both are enabled) may contain
    * the value — the Delta bloom-filter-index feature for selective
    * equality predicates on NON-clustered columns, where min/max ranges
    * are too wide to prune. Result ≡ `read.filter(col(c) === x)` (the
    * residual filter drops Bloom false positives).
    */
  def readWhereEquals(c: String, x: Any): DataFrame = {
    val pc = physicalName(c) // stats are keyed physical, the frame is logical
    val tag = tagOf(pc)
    val v = currentVersion
    readResolved(candidateFilesEqualsAt(pc, x, v), v)
      .filter(col(c) <=> litOf(x, tag))
  }

  // ------------------------------------------- catalog/scan metadata API
  //
  // The read-side metadata surface the DSv2 catalog layer
  // (`graft.sources.GraftCatalog` + the `org.apache.spark.sql.graft`
  // scan bridge) builds SQL scans from: live-file listing per version,
  // deletion-vector presence, and conservative zone-map/Bloom file
  // pruning with open bounds. All metadata-only — no data reads.

  /** Table-relative data files LIVE at version `v` (the manifest
    * replay, ≤ CheckpointEvery log reads).
    */
  def liveFilesAt(v: Long): Seq[String] = manifestFiles(v)

  /** True when committed deletion vectors apply to a file LIVE at
    * version `v` — reads that bypass [[readResolved]] (e.g. a plain
    * parquet scan over the live files) would resurrect deleted rows and
    * must not run. Vectors referencing only dead files (their
    * partitions were since rewritten/compacted) are no-ops and don't
    * block. Cost: one small scan of the vector parquets' `file` column,
    * only when vector dirs exist at all.
    */
  def hasDeletionVectorsAt(v: Long): Boolean = {
    val dvs = applicableDvDirs(v)
    if (dvs.isEmpty) return false
    val live = manifestFiles(v).toSet
    readDv(dvs).select("file").distinct().collect()
      .exists(r => live.contains(r.getString(0))) // bounded by DV'd-file count
  }

  /** Files at `v` that MAY hold a row with `c` in [lo, hi] (either
    * bound optional; None = unbounded). CONSERVATIVE: a column that is
    * not zone-mapped (or a file without stats) survives; only a zone
    * map PROVING non-intersection prunes. Inclusive bounds — callers
    * with strict predicates pass the same bound (a superset is always
    * safe).
    */
  def candidateFilesRangeAt(c: String, lo: Option[Any], hi: Option[Any],
                            v: Long): Seq[String] =
    scala.util.Try(tagOf(c)).toOption match {
      case Some(tag) if lo.nonEmpty || hi.nonEmpty =>
        val loC = lo.map(canonValue(_, tag))
        val hiC = hi.map(canonValue(_, tag))
        val s = snapshot(v)
        s.files.filter(fl => zoneMay(s, fl, c)((mn, mx) =>
          hiC.forall(h => cmpCanon(tag, mn, h) <= 0) &&
            loC.forall(l => cmpCanon(tag, mx, l) >= 0)))
      case _ => manifestFiles(v)
    }

  /** Files at `v` that MAY hold a row with `c` = `x` (zone map + Bloom;
    * conservative like [[candidateFilesRangeAt]]). Public form of the
    * point-lookup pruning for the catalog scan layer.
    */
  def candidateFilesEqualsVersioned(c: String, x: Any, v: Long): Seq[String] =
    scala.util.Try(candidateFilesEqualsAt(c, x, v))
      .getOrElse(manifestFiles(v))

  /** Files that MAY hold `c` = any of `xs` — the `IN (…)` pruning
    * entry point ([[org.apache.spark.sql.graft.GraftPrunedFileIndex]]):
    * the whole value list probes one resolved snapshot. Unprunable →
    * all files.
    */
  def candidateFilesEqualsAnyVersioned(c: String, xs: Seq[Any], v: Long): Seq[String] =
    scala.util.Try {
      if (xs.isEmpty) Seq.empty[String]
      else {
        val tag = tagOf(c)
        equalsCandidates(c, tag, xs.map(canonValue(_, tag)).distinct, v).sorted
      }
    }.getOrElse(manifestFiles(v))

  /** Files at `v` that MAY hold `c` = any of `xs`, pruned by ZONE MAPS
    * ONLY in one pass over the SORTED value set — the large-IN-list
    * form ([[PredicatePruning.BloomProbeMaxValues]]): per-value Bloom
    * probes would cost k md5 rounds per value, while "does any value
    * land in [min, max]" is one binary search per file against one
    * sorted array, at any list size. Superset of the Bloom-probed
    * result — conservative, the residual IN still runs. Unprunable →
    * all files.
    */
  def candidateFilesInSortedVersioned(c: String, xs: Seq[Any], v: Long): Seq[String] =
    scala.util.Try {
      if (xs.isEmpty) Seq.empty[String]
      else {
        val tag = tagOf(c)
        val sorted = xs.map(canonValue(_, tag)).distinct
          .sortWith(cmpCanon(tag, _, _) < 0).toIndexedSeq
        val s = snapshot(v)
        s.files.filter(fl => zoneMay(s, fl, c) { (mn, mx) =>
          // smallest value >= mn; a hit iff it is also <= mx
          var lo = 0
          var hi = sorted.length
          while (lo < hi) {
            val m = (lo + hi) >>> 1
            if (cmpCanon(tag, sorted(m), mn) < 0) lo = m + 1 else hi = m
          }
          lo < sorted.length && cmpCanon(tag, sorted(lo), mx) <= 0
        })
      }
    }.getOrElse(manifestFiles(v))

  /** Evaluate `COUNT(*)` / `COUNT(c)` / `MIN(c)` / `MAX(c)` from the
    * version's MANIFEST METADATA alone — zero data files opened, the
    * Delta "metadata-only count" shape generalized to min/max over the
    * zone maps. Returns None (caller falls back to a normal scan)
    * unless the answer is PROVABLY exact:
    *
    *   - no deletion vector applies at `v` (vectors subtract rows the
    *     manifest row counts still include);
    *   - EVERY live file carries a trusted footer-stats entry (row
    *     count; plus, for per-column aggregates, that column's
    *     null count and min/max — a single stats-free or untrusted
    *     file rejects the whole statement, never degrades it);
    *   - MIN/MAX only on integral/boolean/date/timestamp columns:
    *     string zone maps may be TRUNCATED (parquet lowers the min /
    *     raises the max — valid range bounds, not exact extrema) and
    *     float/double footer stats exclude NaN (Spark's MAX treats NaN
    *     as the largest value), so both reject.
    *
    * Values: counts as Long; MIN/MAX as canonical primitives (long for
    * integral, Boolean, Int epoch days for dates, Long micros for
    * timestamps; null = column all-null at `v`). `restrictTo` keeps a
    * partition-filtered file subset (the WHERE-on-partition-column
    * aggregate). Evaluated on the driver over the resolved snapshot —
    * at 100 TB this answers `count(*)` without touching a single data
    * page.
    */
  def metadataAggregates(v: Long, specs: Seq[GraftTable.MetaAgg],
                         restrictTo: Option[Set[String]] = None):
      Option[Seq[Any]] = scala.util.Try {
    import GraftTable.{MetaCountCol, MetaCountStar, MetaMax, MetaMin}
    if (specs.isEmpty) return None
    // physical stats keys per referenced logical column; tag gates
    val cols: Seq[String] = specs.collect {
      case MetaCountCol(c) => c
      case MetaMin(c) => c
      case MetaMax(c) => c
    }.distinct
    val phys = cols.map(c => c -> physicalName(c)).toMap
    val tags = phys.map { case (c, pc) => c -> tagOf(pc) } // throws → None
    val minMaxOk = Set('l', 'b', 'D', 't')
    specs.foreach {
      case MetaMin(c) => require(minMaxOk.contains(tags(c)))
      case MetaMax(c) => require(minMaxOk.contains(tags(c)))
      case _ =>
    }
    // the partition column never has file stats (it lives in the
    // directory name, not the pages) — rejected by the coverage check
    if (hasDeletionVectorsAt(v)) return None
    def canonOut(canon: String, tag: Char): Any = tag match {
      case 'b' => canon.trim == "1"
      case 'D' => canon.trim.toInt
      case _ => java.lang.Long.valueOf(canon.trim.toLong) // l, t
    }
    val s = snapshot(v)
    val files = restrictTo.fold(s.files)(keep => s.files.filter(keep))
    if (!files.forall(s.stats.contains)) return None
    val fss = files.map(s.stats)
    def colStatsAll(c: String): Option[Seq[ColStats]] = {
      val cs = fss.map(_.cols.get(phys(c)))
      if (cs.exists(_.isEmpty)) None else Some(cs.flatten)
    }
    val perCol = cols.map(c => c -> colStatsAll(c)).toMap
    if (cols.exists(c => perCol(c).isEmpty)) return None
    Some(specs.map {
      case MetaCountStar => java.lang.Long.valueOf(fss.map(_.rows).sum)
      case MetaCountCol(c) => java.lang.Long.valueOf(
        fss.map(_.rows).sum - perCol(c).get.map(_.nulls).sum)
      case MetaMin(c) =>
        val t = tags(c)
        perCol(c).get.flatMap(_.min)
          .reduceOption((a, b) => if (cmpCanon(t, a, b) <= 0) a else b)
          .map(canonOut(_, t)).orNull
      case MetaMax(c) =>
        val t = tags(c)
        perCol(c).get.flatMap(_.max)
          .reduceOption((a, b) => if (cmpCanon(t, a, b) >= 0) a else b)
          .map(canonOut(_, t)).orNull
    })
  }.toOption.flatten

  /** Diagnostic: how many FULL data-tree walks this instance has done.
    * For a table created through [[createIfNotExists]] this must stay 0
    * forever — only the one-time legacy-baseline upgrade walks.
    * (Asserted by `GraftTableSpec`: commit I/O is independent of table
    * file count.)
    */
  private[operators] var fullTreeWalks: Long = 0L

  /** Every committed data file under the table root, path-relative.
    * ONLY for the legacy-table baseline upgrade — a full tree walk is
    * O(all files ever written) and is never part of a commit.
    */
  private def listDataFiles(): Seq[String] = {
    fullTreeWalks += 1
    val root = java.nio.file.Paths.get(path)
    def walk(f: java.io.File): Seq[String] =
      if (f.isDirectory) {
        if (f.getName.startsWith("_")) Seq.empty // _graft_log, _graft_staging
        else Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap(walk)
      } else if (f.getName.endsWith(".parquet"))
        Seq(root.relativize(f.toPath).toString)
      else Seq.empty
    walk(new java.io.File(path))
  }

  /** The version this mutation reads against; upgrades a legacy table
    * (files but no log) in place first — its physical listing becomes
    * version 1, so history starts at "now".
    */
  private def ensureBaselineVersion(): Long = {
    val v = currentVersion
    if (v > 0L) v else commitEntries(0L, listDataFiles().sorted)
  }

  /** The Hive directory name for a partition VALUE (None = null). */
  private def partitionDirName(v: Option[String]): String = v match {
    case Some(value) => s"$partitionCol=" +
      org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName(value)
    case None => s"$partitionCol=__HIVE_DEFAULT_PARTITION__"
  }

  /** The partition VALUE of a directory name ([[partitionDirName]] inverted). */
  private def partitionValueOf(dir: String): Option[String] =
    dir.stripPrefix(s"$partitionCol=") match {
      case "__HIVE_DEFAULT_PARTITION__" => None
      case raw => Some(org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
        .unescapePathName(raw))
    }

  /** The partition directory of a table-relative file path. */
  private def parentDir(f: String): String = f.split('/').dropRight(1).mkString("/")

  // the single file-read boundary: files carry PHYSICAL names, the
  // returned frame is LOGICAL (renameToLogical — identity when the
  // table has no column mapping)
  private def readFiles(files: Seq[String]): DataFrame =
    if (files.isEmpty) {
      val schema = org.apache.spark.sql.types.DataType
        .fromJson(java.nio.file.Files.readString(schemaSidecar))
        .asInstanceOf[org.apache.spark.sql.types.StructType]
      renameToLogical(spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema))
    } else {
      val base = spark.read.option("basePath", path)
      val withSchema =
        if (java.nio.file.Files.exists(schemaSidecar)) {
          val schema = org.apache.spark.sql.types.DataType
            .fromJson(java.nio.file.Files.readString(schemaSidecar))
            .asInstanceOf[org.apache.spark.sql.types.StructType]
          base.schema(schema)
        } else base
      renameToLogical(withSchema.parquet(files.map(f => s"$path/$f"): _*))
    }

  // ------------------------------------------------ deletion vectors
  //
  // Row-level DELETE without rewriting a single data file (the Delta
  // deletion-vector discipline): a delete commit records the matching
  // rows' (file, row-position) pairs as a small parquet under
  // `_graft_log/dv/vNNNNNN_<nonce>/` and commits ONLY a `#dv:` marker —
  // atomic with the manifest, O(matched rows) I/O, untouched at any
  // table size. Reads anti-join the applicable vectors (version-gated,
  // so time travel before the delete still sees the rows) against the
  // scan's own `_metadata.row_index`; a DV dir whose marker never
  // committed (crashed delete) is never applied and is swept by vacuum.
  // Partition rewrites purge their partitions' vectors physically (the
  // rewritten files carry no deleted rows; stale vectors reference dead
  // files and no-op). CDC caveat, documented: a DV-only commit adds no
  // files, so [[readChangesSince]] does not surface it — use
  // [[deleteByKeys]] where downstream consumers follow the change feed.

  private def dvRoot = logDir.resolve("dv")

  /** DV dirs applicable at version `v`: committed (marker present in
    * their version's manifest) and version ≤ `v`.
    */
  private def applicableDvDirs(v: Long): Seq[java.nio.file.Path] = {
    val kids = Option(dvRoot.toFile.listFiles()).getOrElse(Array.empty)
    kids.toSeq.filter(f => f.isDirectory && f.getName.startsWith("v"))
      .flatMap { f =>
        f.getName.drop(1).split("_", 2) match {
          case Array(ver, nonce) if ver.nonEmpty && ver.forall(_.isDigit) =>
            val vl = ver.toLong
            if (vl <= v && java.nio.file.Files.exists(manifestPath(vl)) &&
              rawEntries(vl).contains(s"#dv:$nonce")) Some(f.toPath)
            else None
          case _ => None
        }
      }
  }

  /** Scan `files` with the DV join columns: the file's table-relative
    * path (`partitionDir/basename` — basenames alone collide across a
    * commit's partition dirs, which share one task numbering) and the
    * row's position in it.
    */
  private def readFilesWithMeta(files: Seq[String]): DataFrame = {
    // `_metadata.file_path` is a URI: percent-escapable characters in
    // the ON-DISK names arrive encoded once more (a partition dir
    // `__gp=d%01b` — any multi-column/hidden partition value, or a
    // value with spaces — reads back as `__gp=d%2501b`). The DV `file`
    // key must be the on-disk table-relative path EXACTLY as the
    // manifest renders it, or vectors silently stop matching their
    // files (the scan would resurrect deleted rows). Literal '+' is
    // pre-escaped because url_decode would otherwise read it as a
    // space — the one place URL and URI percent-decoding differ.
    val parts = split(col("_metadata.file_path"), "/")
    def seg(i: Int) = url_decode(
      regexp_replace(element_at(parts, i), "\\+", "%2B"))
    readFiles(files).select(col("*"),
      concat_ws("/", seg(-2), seg(-1)).as("__dvf"),
      col("_metadata.row_index").as("__dvi"))
  }

  private def readDv(dirs: Seq[java.nio.file.Path]): DataFrame =
    spark.read.schema("file STRING, ri BIGINT").parquet(dirs.map(_.toString): _*)

  /** `files` as of version `v` with the applicable deletion vectors
    * subtracted — the single resolved-read path under [[readAt]],
    * [[readChangesSince]] and [[readWhereBetween]]. No vectors → plain
    * scan, zero overhead.
    */
  private def readResolved(files: Seq[String], v: Long): DataFrame = {
    val dvs = applicableDvDirs(v)
    if (dvs.isEmpty || files.isEmpty) readFiles(files)
    else {
      val dv = readDv(dvs)
      val base = readFilesWithMeta(files)
      base.join(dv, base("__dvf") === dv("file") && base("__dvi") === dv("ri"),
        "left_anti").drop("__dvf", "__dvi")
    }
  }

  /** The deletion vectors applicable at version `v`, as table-relative
    * data-file path → path of a small SIDECAR file holding that file's
    * sorted positions (big-endian longs) — the form the DSv2 scan ships
    * into its per-file reader wrappers
    * ([[org.apache.spark.sql.graft.GraftDvBatch]]), which load their own
    * file's positions TASK-side. The driver holds O(#DV'd files) path
    * strings; the positions themselves never transit the driver or the
    * task closures (the Delta discipline — DV *files* ship by
    * reference, tasks read them). Sidecars are staged ONCE per
    * applicable-vector-set (deterministic key over the committed DV dir
    * names) by a DISTRIBUTED repartition-by-file job, atomically
    * renamed into place (concurrent planners race the rename, the loser
    * reuses the winner's identical staging), reused until vacuum merges
    * or compaction purges the vectors, and age-swept as caches by
    * vacuum. Positions are bounded per TASK by its own file's deleted
    * rows — transient until the partition next rewrites.
    */
  def dvPointersAt(v: Long): Map[String, String] = {
    val dirs = applicableDvDirs(v)
    if (dirs.isEmpty) return Map.empty
    val resolvedRoot = dvRoot.resolve("_resolved")
    val target = resolvedRoot.resolve(dvResolvedKey(dirs))
    var attempt = 0
    while (attempt < 3) {
      attempt += 1
      if (!java.nio.file.Files.isDirectory(target)) {
        java.nio.file.Files.createDirectories(resolvedRoot)
        val tmp = resolvedRoot.resolve(
          s".tmp_${java.util.UUID.randomUUID().toString.take(8)}")
        java.nio.file.Files.createDirectories(tmp)
        val tmpStr = tmp.toString
        // one sidecar per DV'd data file: repartition co-locates each
        // file's entries in one task, the within-partition sort makes
        // them contiguous and ordered, the task streams them out as raw
        // longs (URL-encoded name: relative paths contain '/'). Local-FS
        // java.nio here for the same reason the manifest log uses it; on
        // shared storage this write goes through the Hadoop FS API.
        // Task-ATTEMPT isolation: each attempt writes `.a<id>_<enc>` and
        // atomically renames to `<enc>.pos` per file — a retried or
        // speculative attempt can never truncate a sidecar a zombie
        // attempt is still writing; the first completed rename wins
        // (attempts produce identical bytes — the per-file input is
        // deterministic and sorted).
        readDv(dirs).repartition(col("file")).sortWithinPartitions("file", "ri")
          .foreachPartition { it: Iterator[org.apache.spark.sql.Row] =>
            val attempt = Option(org.apache.spark.TaskContext.get())
              .map(_.taskAttemptId()).getOrElse(0L)
            var curFile: String = null
            var out: java.io.DataOutputStream = null
            var curTmp: java.nio.file.Path = null
            var curFinal: java.nio.file.Path = null
            var last = Long.MinValue
            def closeOut(): Unit = if (out != null) {
              out.close(); out = null
              try java.nio.file.Files.move(curTmp, curFinal,
                java.nio.file.StandardCopyOption.ATOMIC_MOVE)
              catch { // another attempt finished this file first
                case _: java.nio.file.FileAlreadyExistsException =>
                  java.nio.file.Files.deleteIfExists(curTmp); ()
              }
            }
            it.foreach { r =>
              val f = r.getString(0)
              val ri = r.getLong(1)
              if (f != curFile) {
                closeOut(); curFile = f; last = Long.MinValue
                val enc = java.net.URLEncoder.encode(f, "UTF-8")
                curTmp = java.nio.file.Paths.get(tmpStr, s".a${attempt}_$enc")
                curFinal = java.nio.file.Paths.get(tmpStr, s"$enc.pos")
                out = new java.io.DataOutputStream(new java.io.BufferedOutputStream(
                  java.nio.file.Files.newOutputStream(curTmp)))
              }
              if (ri != last) { out.writeLong(ri); last = ri }
            }
            closeOut()
          }
        // completeness + CONTENT manifest: sidecar count plus each
        // sidecar's byte size. Readers validate both, so a staging
        // half-deleted by a concurrent sweep can never silently plan
        // some DV'd files as clean, and a truncated/corrupt sidecar
        // can never silently drop or resurrect rows. Leftover attempt
        // temps (zombies that lost their rename) are swept first.
        Option(tmp.toFile.listFiles()).getOrElse(Array.empty)
          .filter(_.getName.startsWith(".a"))
          .foreach(f => java.nio.file.Files.deleteIfExists(f.toPath))
        val staged = Option(tmp.toFile.listFiles()).getOrElse(Array.empty)
          .filter(_.getName.endsWith(".pos")).sortBy(_.getName)
        java.nio.file.Files.writeString(tmp.resolve("_count"),
          (staged.length.toString +:
            staged.map(f => s"${f.length} ${f.getName}").toSeq)
            .mkString("\n"))
        try java.nio.file.Files.move(tmp, target,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        catch { // lost the staging race — the winner's set is identical
          case _: java.nio.file.FileAlreadyExistsException |
               _: java.nio.file.DirectoryNotEmptyException |
               _: java.nio.file.AccessDeniedException => Fs.deleteTree(tmp)
        }
      } else {
        // refresh the cache clock so vacuum's age-gated sweep cannot
        // reclaim a staging a concurrent scan just planned over.
        // Try-guarded: the dir can vanish between the isDirectory check
        // and the touch (the concurrent-vacuum race this retry loop
        // exists for) — fall through to validation, which reclaims
        scala.util.Try(java.nio.file.Files.setLastModifiedTime(target,
          java.nio.file.attribute.FileTime.fromMillis(
            System.currentTimeMillis())))
        ()
      }
      val listed = Option(target.toFile.listFiles()).getOrElse(Array.empty)
      val pos = listed.filter(_.getName.endsWith(".pos"))
      // valid = complete AND intact: the manifest's count matches, every
      // sidecar's byte size matches its manifest entry, and every size
      // is a whole number of longs. Anything else — mid-sweep partial
      // listing, vanished dir, a legacy count-only manifest, a
      // truncated sidecar — reclaims and restages rather than silently
      // resurrecting (or dropping the wrong) deleted rows.
      val manifest = listed.find(_.getName == "_count").flatMap(f =>
        scala.util.Try(java.nio.file.Files.readString(f.toPath)).toOption)
      val valid = manifest.exists { m =>
        val lines = m.split('\n').toSeq
        lines.headOption.flatMap(h =>
          scala.util.Try(h.trim.toInt).toOption).contains(pos.length) &&
          lines.tail.length == pos.length && {
            val sizes = lines.tail.flatMap { l =>
              l.split(" ", 2) match {
                case Array(sz, name) =>
                  scala.util.Try(sz.toLong).toOption.map(name -> _)
                case _ => None
              }
            }.toMap
            sizes.size == pos.length && pos.forall(f =>
              sizes.get(f.getName).contains(f.length) && f.length % 8 == 0)
          }
      }
      if (pos.nonEmpty && valid)
        return pos.map { f =>
          java.net.URLDecoder.decode(f.getName.stripSuffix(".pos"), "UTF-8") ->
            f.getAbsolutePath
        }.toMap
      scala.util.Try(Fs.deleteTree(target))
      ()
    }
    throw new IllegalStateException(
      s"table $path: deletion-vector sidecar staging $target stayed " +
        "incomplete after 3 attempts — a concurrent vacuum may be " +
        "sweeping it; retry the scan")
  }

  /** Deterministic cache key of a resolved-DV sidecar staging: the
    * committed DV dir set it was built from. Vacuum keeps every key a
    * RETAINED version still resolves ([[vacuum]]'s `_resolved` sweep).
    */
  private def dvResolvedKey(dirs: Seq[java.nio.file.Path]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    dirs.map(_.getFileName.toString).sorted
      .foreach(n => md.update(n.getBytes("UTF-8")))
    md.digest().take(8).map("%02x".format(_)).mkString
  }

  /** True if version `v`'s manifest is still retained (vacuum drops
    * old history) — the streaming resume-below-horizon check.
    */
  def hasVersion(v: Long): Boolean =
    java.nio.file.Files.exists(manifestPath(v))

  /** Commit history as a DataFrame (the `DESCRIBE HISTORY` surface):
    * one row per retained version — commit instant (the manifest
    * mtime, the same clock `TIMESTAMP AS OF` resolves against), kind
    * (delta / checkpoint / base), files added, partition dirs dropped,
    * and the `#`-marker kinds carried. Metadata-scale: bounded by the
    * version count, never touches data files.
    */
  def history: DataFrame = {
    val rows = versions.map { v =>
      val entries = rawEntries(v)
      val kind =
        if (entries.exists(_.startsWith("#ckpt:"))) "checkpoint"
        else if (isDelta(entries)) "delta"
        else "base"
      val adds = entries.count(_.startsWith("+"))
      val drops = entries.count(_.startsWith("-"))
      val markers = entries.filter(e => e.startsWith("#") && e != "#delta" &&
        e != "#cdelta").map(_.drop(1).split(":", 2)(0)).distinct.sorted
      val ms = java.nio.file.Files.getLastModifiedTime(manifestPath(v)).toMillis
      (v, new java.sql.Timestamp(ms), kind, adds.toLong, drops.toLong,
        markers.toSeq)
    }
    import spark.implicits._
    rows.toDF("version", "commit_ts", "kind", "files_added",
      "partitions_dropped", "markers")
  }

  /** `TIMESTAMP AS OF` resolution: the LATEST version committed at or
    * before `microsUtc` (manifest link mtimes are the commit clock —
    * the Delta convention). Errors when the timestamp predates the
    * retained history (vacuumed or before v1): silently resolving to
    * a later state would be a wrong answer.
    */
  def versionAtTimestamp(microsUtc: Long): Long = {
    val ms = microsUtc / 1000L
    val vs = versions
    val at = vs.filter(v =>
      java.nio.file.Files.getLastModifiedTime(manifestPath(v)).toMillis <= ms)
    require(at.nonEmpty,
      s"table $path: no version committed at or before " +
        s"${java.time.Instant.ofEpochMilli(ms)} — earliest retained is " +
        vs.headOption.map(v => s"v$v @ " + java.time.Instant.ofEpochMilli(
          java.nio.file.Files.getLastModifiedTime(manifestPath(v)).toMillis))
          .getOrElse("<empty>"))
    at.max
  }

  /** Net file changes of versions (s, e], replayed from the DELTA
    * manifests ALONE — O(changed files) per streaming batch, no
    * live-list materialization at either endpoint. Checkpoint versions
    * written by this code carry their own delta (`#cdelta` + entries);
    * a legacy checkpoint in range → None (caller falls back to the
    * live diff).
    *
    * Returns (addedLive, deleteOnlyDirs): files that entered the live
    * set in the range and survive at `e` (a restore re-landing a
    * pre-range file re-emits it — the replace-semantics post-state),
    * and partition dirs dropped in the range with no surviving adds
    * beneath them (the delete-only-commit guard's input).
    *
    * LEGACY-ONLY divergence, accepted and documented: a file that was
    * live at `s`, dropped, and re-added AT THE SAME PATH within the
    * range is re-emitted here (the delta replay cannot know it predates
    * `s` without materializing live(s) — the exact cost this path
    * exists to avoid), while the legacy-checkpoint fallback's live-set
    * diff (`live(e) -- live(s)`) excludes it. Both are correct for an
    * idempotent consumer — the consumer already holds those rows either
    * way — the emitted row sets just differ on this (restore-shaped,
    * rare) case depending on whether a pre-#cdelta checkpoint forced
    * the fallback.
    */
  def fileChangesInRange(s: Long, e: Long): Option[(Seq[String], Set[String])] = {
    require(s >= 0 && e >= s, s"bad range ($s, $e]")
    val added = scala.collection.mutable.LinkedHashSet.empty[String]
    val droppedEver = scala.collection.mutable.Set.empty[String]
    var v = s + 1
    while (v <= e) {
      val entries = rawEntries(v)
      val isCkpt = entries.exists(_.startsWith("#ckpt:"))
      if (isCkpt && !entries.contains("#cdelta"))
        return None // legacy checkpoint: its delta was not recorded
      val drops = entries.collect { case x if x.startsWith("-") => x.drop(1) }
      val adds = entries.collect { case x if x.startsWith("+") => x.drop(1) }
      if (drops.nonEmpty) {
        added.filterInPlace(f => !drops.exists(d => f.startsWith(d + "/")))
        droppedEver ++= drops
      }
      added ++= adds
      v += 1
    }
    val addedLive = added.toSeq
    val deleteOnly = droppedEver.toSet
      .filter(d => !addedLive.exists(_.startsWith(d + "/")))
    Some((addedLive, deleteOnly))
  }

  /** True if any deletion-vector COMMIT landed in versions (s, e] —
    * i.e. the range contains row-level deletes a file-diff stream
    * cannot represent.
    */
  def hasDvCommitsInRange(s: Long, e: Long): Boolean = {
    val kids = Option(dvRoot.toFile.listFiles()).getOrElse(Array.empty)
    kids.exists { f =>
      f.isDirectory && f.getName.startsWith("v") &&
        (f.getName.drop(1).split("_", 2) match {
          case Array(ver, nonce) if ver.nonEmpty && ver.forall(_.isDigit) =>
            val vl = ver.toLong
            vl > s && vl <= e && java.nio.file.Files.exists(manifestPath(vl)) &&
              rawEntries(vl).contains(s"#dv:$nonce")
          case _ => false
        })
    }
  }

  /** The membership joins reserve the `__gm<i>` (renamed subquery
    * columns) and `__gq…` (UPDATE-path markers) name spaces — a table
    * column there would make the joins ambiguous; reject up front.
    */
  private def guardMembershipNames(op: String, base: Long): Unit = {
    val clash = readAt(base).columns.filter(c =>
      c.matches("__gm\\d+") || c.startsWith("__gq"))
    require(clash.isEmpty,
      s"$op: the table has column(s) reserved for the membership join " +
        s"(${clash.mkString(", ")}) — rename them")
  }

  /** `mem.frame` with its columns renamed into the reserved `__gm<i>`
    * space (collision-proof against target columns), indices validated.
    */
  private def membershipFrame(mem: GraftTable.Membership): DataFrame = {
    val f = mem.frame
    require(mem.pairs.nonEmpty || mem.negated || !mem.nullAware,
      "membership constraint needs at least one pair unless (NOT) EXISTS")
    mem.pairs.foreach { case (c, i) =>
      require(i >= 0 && i < f.columns.length,
        s"membership constraint pairs '$c' with subquery column $i, but " +
          s"the subquery has ${f.columns.length} column(s)")
    }
    f.toDF(f.columns.indices.map(i => s"__gm$i"): _*)
  }

  /** Restrict `m` to the rows [[GraftTable.Membership]] `mem`
    * qualifies — SEMI/ANTI joins only, so rows are never duplicated.
    * Drives DELETE's matched-row selection and UPDATE's
    * touched-partition probe. The null-aware NOT IN edges (empty
    * subquery / null member) resolve via ONE small aggregate of the
    * subquery frame, keeping the join itself a plain hash anti-join.
    */
  private def membershipFilter(m: DataFrame, mem: GraftTable.Membership): DataFrame = {
    val jf = membershipFrame(mem)
    def eq(ps: Seq[(String, Int)]) = ps.map { case (c, i) => col(c) === col(s"__gm$i") }
    if (mem.pairs.isEmpty) {
      // uncorrelated (NOT) EXISTS: one non-emptiness probe decides all rows
      val nonEmpty = jf.limit(1).count() > 0
      if (nonEmpty != mem.negated) m else m.limit(0)
    } else if (!mem.negated) {
      m.join(jf, eq(mem.pairs).reduce(_ && _), "left_semi")
    } else if (!mem.nullAware) {
      m.join(jf, eq(mem.pairs).reduce(_ && _), "left_anti")
    } else {
      val (inCol, inIdx) = mem.pairs.head
      val gv = col(s"__gm$inIdx")
      if (mem.pairs.tail.isEmpty) {
        // uncorrelated NOT IN: the aggregate decides the three-valued
        // edges; the main path is a hash anti-join over DISTINCT values
        val agg = jf.agg(count(lit(1)), count(when(gv.isNull, lit(1)))).head()
        if (agg.getLong(0) == 0L) m              // NOT IN (empty) = TRUE
        else if (agg.getLong(1) > 0L) m.limit(0) // a null member: never TRUE
        else m.filter(col(inCol).isNotNull)
          .join(jf.select(gv).distinct(), col(inCol) === gv, "left_anti")
      } else {
        // correlated NOT IN: a hash ANTI join keyed on the correlation
        // equalities; the null-aware IN disjunction rides as the join
        // residual (per SQL, within a correlation group: empty group →
        // qualifies, null member or null probe → does not)
        val naCond = eq(mem.pairs.tail).reduce(_ && _) &&
          (col(inCol) === gv || col(inCol).isNull || gv.isNull)
        m.join(jf, naCond, "left_anti")
      }
    }
  }

  /** Per-row qualification MARKER for `mem` over `cur` — the UPDATE
    * path's form (assignments flip row-by-row, so the frame cannot be
    * restricted). Returns the augmented frame and the qualifies
    * column; every probe joins a DISTINCT projection of the subquery
    * frame, so the joins are 1:1 and never duplicate target rows.
    * Marker columns live in the `__gq` space and fall away when the
    * caller projects the table columns.
    */
  private def membershipMark(cur: DataFrame, mem: GraftTable.Membership,
                             i: Int): (DataFrame, org.apache.spark.sql.Column) = {
    val jf = membershipFrame(mem)
    def eq(ps: Seq[(String, Int)]) = ps.map { case (c, ix) => col(c) === col(s"__gm$ix") }
    val mk = s"__gq$i"
    if (mem.pairs.isEmpty) {
      val nonEmpty = jf.limit(1).count() > 0
      (cur, lit(nonEmpty != mem.negated))
    } else if (!mem.nullAware) {
      // IN / EXISTS / NOT EXISTS: one 1:1 left join against the
      // DISTINCT paired projection; a present marker = a subquery row
      // satisfies every pair
      val idxs = mem.pairs.map(_._2).distinct
      val proj = jf.select(idxs.map(ix => col(s"__gm$ix")): _*)
        .distinct().withColumn(mk, lit(true))
      val joined = cur.join(proj, eq(mem.pairs).reduce(_ && _), "left_outer")
        .drop(idxs.map(ix => s"__gm$ix"): _*)
      val hit = coalesce(col(mk), lit(false))
      (joined, if (mem.negated) !hit else hit)
    } else {
      val (inCol, inIdx) = mem.pairs.head
      val gv = col(s"__gm$inIdx")
      if (mem.pairs.tail.isEmpty) {
        // uncorrelated NOT IN: aggregate-decided edges, else a value probe
        val agg = jf.agg(count(lit(1)), count(when(gv.isNull, lit(1)))).head()
        if (agg.getLong(0) == 0L) (cur, lit(true))
        else if (agg.getLong(1) > 0L) (cur, lit(false))
        else {
          val proj = jf.select(gv).distinct().withColumn(mk, lit(true))
          val joined = cur.join(proj, col(inCol) === gv, "left_outer")
            .drop(s"__gm$inIdx")
          (joined, col(inCol).isNotNull && !coalesce(col(mk), lit(false)))
        }
      } else {
        // correlated NOT IN: per correlation group, SQL gives — empty
        // group qualifies; a null member or a null probe value does
        // not; otherwise qualify iff the value is absent. Two 1:1
        // probes: the grouped (exists, has-null-member) join and the
        // exact value-hit join.
        val keyIdxs = mem.pairs.tail.map(_._2).distinct
        val grouped = jf.groupBy(keyIdxs.map(ix => col(s"__gm$ix")): _*)
          .agg(max(gv.isNull).as(s"${mk}n")).withColumn(s"${mk}g", lit(true))
        val keyEq = eq(mem.pairs.tail).reduce(_ && _)
        val withGroup = cur.join(grouped, keyEq, "left_outer")
          .drop(keyIdxs.map(ix => s"__gm$ix"): _*)
        val valIdxs = (inIdx +: keyIdxs).distinct
        val valProj = jf.select(valIdxs.map(ix => col(s"__gm$ix")): _*)
          .distinct().withColumn(mk, lit(true))
        val joined = withGroup.join(valProj,
          keyEq && col(inCol) === gv, "left_outer")
          .drop(valIdxs.map(ix => s"__gm$ix"): _*)
        val qual = !coalesce(col(s"${mk}g"), lit(false)) ||
          (!coalesce(col(s"${mk}n"), lit(false)) && col(inCol).isNotNull &&
            !coalesce(col(mk), lit(false)))
        (joined, qual)
      }
    }
  }

  /** ROW-LEVEL DELETE as a deletion-vector commit: rows of the CURRENT
    * state matching `cond` stop being visible from the new version on,
    * with O(matched rows) write I/O and zero data files rewritten or
    * added. A no-match delete commits nothing. Returns this table.
    */
  def deleteWhere(cond: org.apache.spark.sql.Column): this.type =
    deleteWhereIn(cond, Nil)

  /** [[deleteWhere]] with additional subquery MEMBERSHIP constraints
    * ([[GraftTable.Membership]]): a row is deleted when `cond` holds
    * AND every constraint qualifies it — the `DELETE FROM t WHERE … AND
    * c IN / NOT IN (SELECT …)` / `[NOT] EXISTS (SELECT …)` statements
    * ([[org.apache.spark.sql.graft.GraftRowLevelSql]] routes the SQL
    * here), correlated or not. Each constraint executes as a
    * DISTRIBUTED hash semi/anti join against the materialized subquery
    * frame — never a collected IN list, never a nested loop — so an
    * arbitrarily large key set costs one shuffle (or a broadcast when
    * small), and the commit stays the same O(matched-rows) deletion
    * vector. SQL null semantics hold exactly: IN never matches a null
    * probe; NOT IN evaluates three-valued (see [[Membership]]).
    */
  def deleteWhereIn(cond: org.apache.spark.sql.Column,
                    memberships: Seq[GraftTable.Membership]): this.type = {
    val base = ensureBaselineVersion()
    val live = manifestFiles(base)
    if (live.isEmpty) return this
    // matched-row discovery reads CANDIDATE files only: the table's own
    // zone-map/Bloom tiers restrict the scan when `cond`'s conjuncts
    // are prunable (a delete on a stats-tracked column touches the
    // files that may hold it, not 100% of the table)
    val files = PredicatePruning.mutationCandidates(this, cond,
      readAt(base), live, base)
    if (files.isEmpty) return this // zone maps prove no row matches
    val dvs = applicableDvDirs(base)
    val scan = readFilesWithMeta(files)
    val already =
      if (dvs.isEmpty) scan
      else {
        val dv = readDv(dvs)
        scan.join(dv, scan("__dvf") === dv("file") && scan("__dvi") === dv("ri"),
          "left_anti")
      }
    if (memberships.nonEmpty) guardMembershipNames("deleteWhereIn", base)
    val matched = memberships
      .foldLeft(already.filter(cond))(membershipFilter)
      .select(col("__dvf").as("file"), col("__dvi").as("ri"))
    val nonce = java.util.UUID.randomUUID().toString.take(8)
    val stage = dvRoot.resolve(s".stage_$nonce")
    // the rows are counted as they are written (a retried task may
    // count twice; only zero versus non-zero matters), so an empty
    // vector is known without reading the staged directory back
    val hits = spark.sparkContext.longAccumulator
    val count = udf { () => hits.add(1); true }.asNondeterministic()
    matched.filter(count()).write.mode(SaveMode.Overwrite).parquet(stage.toString)
    if (hits.value == 0) { Fs.deleteTree(stage); return this }
    val target = dvRoot.resolve(f"v${base + 1}%06d_$nonce")
    java.nio.file.Files.move(stage, target)
    try commitDelta(base, Nil, Nil, markers = Seq(s"#dv:$nonce"))
    catch {
      case e: CommitConflictException => Fs.deleteTree(target); throw e
    }
    this
  }

  /** RESTORE to version `v` as a NEW commit (the Delta `RESTORE` /
    * rollback statement): the target version's state becomes the live
    * state again while ALL history — including the pre-restore head —
    * stays time-travelable; nothing is deleted. Metadata-only wherever
    * possible: the target's files re-enter the manifest BY REFERENCE;
    * only files a LATER deletion vector touches re-land physically (a
    * metadata re-add would resurrect the file but leave the later
    * vector still applying to it — its deleted rows would stay
    * invisible instead of coming back). Zone maps / blooms of
    * referenced files are still in the stats log; rewritten files
    * collect fresh ones. CHECK constraints are not re-validated — the
    * restored state is a previously committed one. OCC like any
    * mutation; at 100 TB a restore is one manifest commit plus at most
    * the DV'd files' rewrite.
    */
  def restore(v: Long): this.type = {
    val base = ensureBaselineVersion()
    require(versions.contains(v), s"version $v does not exist for table $path")
    if (v == base) return this
    val target = manifestFiles(v)
    val laterDvs = applicableDvDirs(Long.MaxValue).filter { p =>
      p.getFileName.toString.drop(1).split("_", 2)(0).toLong > v
    }
    val touchedByLater: Set[String] =
      if (laterDvs.isEmpty) Set.empty
      else readDv(laterDvs).select("file").distinct()
        .collect().map(_.getString(0)).toSet // bounded by DV'd-file count
    val (rewrite, keep) = target.partition(touchedByLater.contains)
    val newFiles =
      if (rewrite.isEmpty) Seq.empty[String]
      else writeCommitFiles(readResolved(rewrite, v))
    val statsEntries = collectStatsEntries(newFiles)
    // the restore REPLACES the whole live state: every partition dir of
    // the current head or the target drops, then the target re-adds
    val dropDirs = (manifestFiles(base) ++ target).map(parentDir).distinct
    try {
      commitDelta(base, dropDirs, keep ++ newFiles, statsEntries = statsEntries)
    } catch {
      case e: CommitConflictException =>
        newFiles.foreach { f =>
          java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(path, f)); ()
        }
        throw e
    }
    this
  }

  /** TIME TRAVEL: the table exactly as of committed version `v` —
    * through the CURRENT schema (columns added since `v` read as null),
    * with the deletion vectors committed by `v` applied (and later ones
    * not).
    */
  def readAt(v: Long): DataFrame = readResolved(manifestFiles(v), v)

  /** FILE-LEVEL CDC (the Delta change-data-feed-lite read): the rows of
    * every data file that entered the live set AFTER version `since` —
    * i.e. the post-mutation state of each partition touched since then,
    * resolved purely from the manifest diff (metadata-only; no data is
    * scanned to decide what changed, and untouched partitions are never
    * read). Under REPLACE semantics these are exactly the current rows
    * of the touched partitions; for ROW-level change classification
    * (insert/update/delete) diff against [[readAt]] with
    * [[Relational.tableDiff]] — that is the exact tier, this is the
    * cheap incremental-consumption feed.
    */
  def readChangesSince(since: Long): DataFrame = {
    val cur = currentVersion
    require(since >= 1 && since <= cur,
      s"since must be a committed version in [1, $cur], got $since")
    val old = manifestFiles(since).toSet
    readResolved(manifestFiles(cur).filterNot(old), cur)
  }

  /** ROW-LEVEL CDC (the Delta change-data-feed classification): every
    * row change between version `since` and the current version, with a
    * `_change_type` column ∈ {insert, update_preimage, update_postimage,
    * delete} — the feed incremental consumers actually want.
    *
    * Resolved from the MANIFEST DIFF plus a key join restricted to the
    * touched files only: rows of files that LEFT the live set (as
    * visible at `since`) full-outer-join rows of files that ENTERED it
    * (as visible now) on the table keys (null-safe) — left-only =
    * delete, right-only = insert, both-with-any-column-change = one
    * pre- and one post-image row, both-identical = nothing (so a
    * compaction or restore that rewrites identical content emits no
    * changes). Deletion-vector commits in the range add delete rows for
    * the vectored positions of files live at BOTH ends (a DV on a file
    * that was later rewritten is already covered by the file diff).
    * Untouched partitions are never read; the join is bounded by the
    * touched files' rows. Requires the TABLE-GLOBAL keyed contract (one
    * row per key per version across all partitions — the merge /
    * insertIfAbsent / deleteByKeys discipline); a partition-moving
    * update then classifies as pre+post image, not delete+insert.
    */
  def readChangesRowsSince(since: Long): DataFrame =
    readChangesRowsBetween(since, currentVersion)

  /** [[readChangesRowsSince]] between two pinned versions — the
    * increment a CDC STREAM batch emits per offset range
    * ([[org.apache.spark.sql.graft.GraftCdcMicroBatchStream]]): change
    * rows of versions (since, until].
    */
  def readChangesRowsBetween(since: Long, until: Long): DataFrame = {
    val cur = until
    require(since >= 1 && since <= cur,
      s"since must be a committed version in [1, $cur], got $since")
    require(cur <= currentVersion,
      s"until must be a committed version, got $cur (head ${currentVersion})")
    val oldFiles = manifestFiles(since)
    val newFiles = manifestFiles(cur)
    val oldSet = oldFiles.toSet
    val newSet = newFiles.toSet
    val dropped = oldFiles.filterNot(newSet)
    val added = newFiles.filterNot(oldSet)
    val cols = readResolved(Seq.empty, cur).columns.toSeq // sidecar order
    val a = readResolved(dropped, since)
      .select(cols.map(c => col(c).as(s"__a_$c")): _*)
      .withColumn("__a_present", lit(1))
    val b = readResolved(added, cur)
      .select(cols.map(c => col(c).as(s"__b_$c")): _*)
      .withColumn("__b_present", lit(1))
    val j = a.join(b,
      keys.map(k => col(s"__a_$k") <=> col(s"__b_$k")).reduce(_ && _),
      "full_outer")
    val both = col("__a_present").isNotNull && col("__b_present").isNotNull
    val changed = cols.map(c => !(col(s"__a_$c") <=> col(s"__b_$c"))).reduce(_ || _)
    // one pass: each joined row explodes to its 0/1/2 change rows
    val tags = when(col("__a_present").isNull, array(lit("insert")))
      .when(col("__b_present").isNull, array(lit("delete")))
      .when(both && changed,
        array(lit("update_preimage"), lit("update_postimage")))
      .otherwise(array().cast("array<string>"))
    val fileDiff = j.select(explode(tags).as("_change_type") +:
      (cols.map(c => col(s"__a_$c")) ++ cols.map(c => col(s"__b_$c"))): _*)
      .select(cols.map(c =>
        when(col("_change_type").isin("delete", "update_preimage"),
          col(s"__a_$c")).otherwise(col(s"__b_$c")).as(c)) :+
        col("_change_type"): _*)
    // deletion vectors committed in (since, cur] on files live at both
    // ends: their positions are delete pre-images (positions are
    // disjoint from earlier vectors by construction — deleteWhere only
    // vectors still-visible rows)
    val rangeDvs = applicableDvDirs(cur).filter { p =>
      p.getFileName.toString.drop(1).split("_", 2)(0).toLong > since
    }
    if (rangeDvs.isEmpty) fileDiff
    else {
      val common = oldSet.intersect(newSet)
      val dv = readDv(rangeDvs)
      val dvFiles = dv.select("file").distinct().collect()
        .map(_.getString(0)).filter(common.contains).toSeq // bounded by DV'd-file count
      if (dvFiles.isEmpty) fileDiff
      else {
        val scan = readFilesWithMeta(dvFiles)
        val dvDeletes = scan.join(dv,
            scan("__dvf") === dv("file") && scan("__dvi") === dv("ri"),
            "left_semi")
          .select(cols.map(col) :+ lit("delete").as("_change_type"): _*)
        fileDiff.unionByName(dvDeletes)
      }
    }
  }

  /** Reclaim history: keep the last `keepVersions` manifests, delete
    * every data file referenced ONLY by dropped manifests. The
    * storage-cost bound a versioned table needs — history is otherwise
    * unbounded (every upsert tick keeps its replaced files). The oldest
    * KEPT manifest is first materialized as a full checkpoint (its
    * delta chain may reference dropped manifests).
    */
  /** What [[vacuum]] would reclaim, WITHOUT reclaiming anything — the
    * `CALL graft.system.vacuum(…, dry_run => true)` report: versions
    * that would drop, dead data files (referenced only by dropped
    * versions) with their byte size, and orphan files (in no manifest —
    * crash leftovers). Read-only; safe under concurrent writers (the
    * numbers are advisory: a racing commit can change them).
    */
  def vacuumDryRun(keepVersions: Int = 1,
                   includeOrphans: Boolean = true): GraftTable.VacuumReport = {
    require(keepVersions >= 1, s"keepVersions must be >= 1, got $keepVersions")
    val vs = versions
    if (vs.isEmpty) return GraftTable.VacuumReport(Nil, 0L, 0L, 0L)
    val (drop, keep) = vs.splitAt(math.max(0, vs.size - keepVersions))
    val liveSet = keep.flatMap(manifestFiles).toSet
    val dead = drop.flatMap(manifestFiles).toSet -- liveSet
    val bytes = dead.toSeq.map { f =>
      scala.util.Try(java.nio.file.Files.size(
        java.nio.file.Paths.get(path, f))).getOrElse(0L)
    }.sum
    // the orphan count is the one O(all-files) tree walk — skippable
    // when the caller is about to run the real vacuum anyway (its own
    // sweep covers orphans); -1 = not counted
    val orphans =
      if (includeOrphans)
        listDataFiles().filterNot(liveSet).filterNot(dead).size.toLong
      else -1L
    GraftTable.VacuumReport(drop, dead.size.toLong, bytes, orphans)
  }

  def vacuum(keepVersions: Int = 1): this.type = {
    require(keepVersions >= 1, s"keepVersions must be >= 1, got $keepVersions")
    val vs = versions
    if (vs.isEmpty) return this
    def rmTree(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rmTree)); f.delete(); ()
    }
    val (drop, keep) = vs.splitAt(math.max(0, vs.size - keepVersions))
    if (drop.nonEmpty) {
      // re-anchor the oldest kept version: resolve it THROUGH the
      // soon-dropped chain, then rewrite its manifest as a full listing
      // (content-identical — same live set, no longer delta-encoded)
      val kMin = keep.head
      // merge every deletion vector committed at or before kMin into
      // ONE dir anchored there (their own manifests are about to drop;
      // rows for dead files are kept — they no-op and compaction purges)
      val dvMerge = applicableDvDirs(kMin)
      val mergedMarker =
        if (dvMerge.isEmpty) None
        else {
          val nonce = java.util.UUID.randomUUID().toString.take(8)
          val stage = dvRoot.resolve(s".stage_$nonce")
          readDv(dvMerge)
            .write.mode(SaveMode.Overwrite).parquet(stage.toString)
          java.nio.file.Files.move(stage, dvRoot.resolve(f"v$kMin%06d_$nonce"))
          Some(s"#dv:$nonce")
        }
      // re-anchor as a PARQUET CHECKPOINT: snapshot resolves kMin
      // THROUGH the soon-dropped chain (stats and blooms included as
      // columns), so neither dropped manifests nor dropped stats files
      // are ever needed again. A kMin that is already a checkpoint only
      // rewrites its JSON when the DV merge changed its markers.
      val kEntries = rawEntries(kMin)
      val alreadyCkpt = !isDelta(kEntries) && kEntries.exists(_.startsWith("#ckpt:"))
      if (!alreadyCkpt || mergedMarker.nonEmpty) {
        // preserve this version's own markers (its old `#dv:` refs are
        // superseded by the merged one) and the accumulated txn state
        val own = kEntries.filter(e => e.startsWith("#") &&
          e != "#delta" && e != "#cdelta" && !e.startsWith("#txn:") &&
          !e.startsWith("#dv:") && !e.startsWith("#ckpt:"))
        val txns = txnState(kMin).map { case (app, b) => s"#txn:$app:$b" }.toSeq
        val ckptMarker =
          if (alreadyCkpt) kEntries.find(_.startsWith("#ckpt:")).get
          else {
            val nonce = java.util.UUID.randomUUID().toString.take(8)
            writeCkpt(kMin, nonce, ckptRows(snapshot(kMin)))
            s"#ckpt:$nonce"
          }
        val full = (own ++ txns ++ mergedMarker.toSeq :+ ckptMarker).sorted
        val json = full.map(f => "\"" + f + "\"")
          .mkString(s"""{"version":$kMin,"files":[""", ",", "]}")
        val tmp = logDir.resolve(s".tmp_ckpt_v$kMin")
        // manifest mtimes are the COMMIT clock (TIMESTAMP AS OF /
        // versionAtTimestamp) — the rewrite must keep the original
        // commit instant, not stamp vacuum time
        val commitTime = java.nio.file.Files.getLastModifiedTime(manifestPath(kMin))
        java.nio.file.Files.writeString(tmp, json)
        java.nio.file.Files.move(tmp, manifestPath(kMin),
          java.nio.file.StandardCopyOption.REPLACE_EXISTING,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        java.nio.file.Files.setLastModifiedTime(manifestPath(kMin), commitTime)
        ()
      }
      dvMerge.foreach(p => rmTree(p.toFile))
      val liveSet = keep.flatMap(manifestFiles).toSet
      val dead = drop.flatMap(manifestFiles).toSet -- liveSet
      dead.foreach { f =>
        val p = java.nio.file.Paths.get(path, f)
        java.nio.file.Files.deleteIfExists(p)
        // local-FS runs: Hadoop writes a .<name>.crc checksum sibling
        val crc = p.resolveSibling("." + p.getFileName.toString + ".crc")
        java.nio.file.Files.deleteIfExists(crc); ()
      }
      drop.foreach { v =>
        java.nio.file.Files.deleteIfExists(manifestPath(v))
        java.nio.file.Files.deleteIfExists(statsPath(v))
        // checkpoint parquets of dropped versions
        Option(ckptRoot.toFile.listFiles()).getOrElse(Array.empty)
          .filter(_.getName.startsWith(f"v$v%06d_")).foreach(rmTree)
      }
    }
    // ORPHAN SWEEP — the crash-recovery half of vacuum: a commit that
    // died between moving its files and linking its manifest left
    // invisible data files (in no manifest — correct, but storage leaks
    // forever). Vacuum is the maintenance op that may walk the tree:
    // delete every data file no KEPT manifest references, and clear
    // stale `_graft_staging/` dirs. Caller contract (already implied by
    // vacuum's file deletion): no writer is active during vacuum.
    val live = keep.flatMap(manifestFiles).toSet
    listDataFiles().filterNot(live).foreach { f =>
      val p = java.nio.file.Paths.get(path, f)
      java.nio.file.Files.deleteIfExists(p)
      val crc = p.resolveSibling("." + p.getFileName.toString + ".crc")
      java.nio.file.Files.deleteIfExists(crc); ()
    }
    Option(java.nio.file.Paths.get(path, "_graft_staging").toFile.listFiles())
      .foreach(_.foreach(rmTree))
    // crashed CDC streams' staged batch dirs (committed batches reclaim
    // their own staging) — age-gated: a LIVE stream's current batch may
    // be mid-read during vacuum
    Option(java.nio.file.Paths.get(path, "_graft_cdc").toFile.listFiles())
      .foreach(_.foreach { f =>
        if (System.currentTimeMillis() - f.lastModified() >= orphanGraceMs)
          rmTree(f)
      })
    // checkpoint / deletion-vector orphan sweeps: a sidecar dir whose
    // `#ckpt:`/`#dv:` marker never committed (crashed writer, lost OCC
    // race) or whose version is gone is referenced by no manifest —
    // reclaim it. AGE-GATED: a concurrent writer stages its sidecar dir
    // BEFORE linking the marker, so an un-gated sweep would delete an
    // in-flight dir and the writer would then commit a marker pointing
    // at nothing — every version from there to the next checkpoint
    // unreadable. Only dirs older than `orphanGraceMs` (dir mtime) are
    // eligible; any plausibly-in-flight dir survives until the next
    // vacuum. (The KEPT-manifest file sweep above needs no gate: a
    // crashed commit's data files are re-staged, never re-linked.)
    val sweepNow = System.currentTimeMillis()
    def sweepOrphans(root: java.nio.file.Path, marker: String,
                     curV: Long): Unit = {
      Option(root.toFile.listFiles()).getOrElse(Array.empty)
        .filterNot(_.getName == "_resolved") // cache tree: swept per-CHILD below
        .foreach { f =>
        val committed = f.isDirectory && f.getName.startsWith("v") &&
          (f.getName.drop(1).split("_", 2) match {
            case Array(ver, nonce) if ver.nonEmpty && ver.forall(_.isDigit) =>
              val vl = ver.toLong
              vl <= curV && java.nio.file.Files.exists(manifestPath(vl)) &&
                rawEntries(vl).contains(s"#$marker:$nonce")
            case _ => false
          })
        if (!committed && sweepNow - f.lastModified() >= orphanGraceMs)
          rmTree(f)
      }
    }
    val curV = versions.lastOption.getOrElse(0L)
    sweepOrphans(ckptRoot, "ckpt", curV)
    sweepOrphans(dvRoot, "dv", curV)
    // resolved-DV sidecar stagings (`_resolved/<key>`) are pure caches —
    // regenerated on demand from the committed vector dirs. Keys any
    // RETAINED version still resolves are NEVER swept (a reader of a
    // retained version may be mid-scan at any age — sweeping its
    // staging under it risks a partial listing); stale keys (their
    // vector sets merged away, their versions dropped) sweep by age,
    // as do crashed `.tmp_*` stagings. Readers additionally validate
    // the staging's `_count` manifest, so even a cross-process sweep
    // can only force a restage, never a silent partial map.
    val resolvedKeep: Set[String] = keep
      .map(v => applicableDvDirs(v)).filter(_.nonEmpty)
      .map(dvResolvedKey).toSet
    Option(dvRoot.resolve("_resolved").toFile.listFiles())
      .foreach(_.foreach { f =>
        if (!resolvedKeep.contains(f.getName) &&
          sweepNow - f.lastModified() >= orphanGraceMs) rmTree(f)
      })
    // prune now-empty partition directories (an all-history partition
    // leaves an empty dir behind once its files are reclaimed)
    def prune(f: java.io.File): Boolean = { // true = f was removed
      if (!f.isDirectory || f.getName.startsWith("_")) false
      else {
        Option(f.listFiles()).getOrElse(Array.empty).foreach(prune)
        val empty = Option(f.listFiles()).forall(_.isEmpty)
        if (empty && f.toPath != java.nio.file.Paths.get(path)) f.delete()
        else false
      }
    }
    Option(new java.io.File(path).listFiles()).getOrElse(Array.empty)
      .foreach(prune)
    this
  }

  /** Write `df`'s rows as NEW files and return their table-relative
    * paths — WITHOUT walking the table: the write lands in a per-commit
    * staging directory (so the added-file list is one listing of a
    * directory this commit owns), and each file then moves into its
    * partition directory under a commit-unique name. O(files written),
    * independent of table size.
    */
  /** `df` re-bound to the session's shared MICROS write clone
    * ([[GraftTable.microsSessionFor]] — analysis already done, the
    * clone supplies conf + runtime only): `.write` on the result
    * produces MICROS-stamped parquet without touching the caller's
    * session.
    */
  private def microsWrite(df: DataFrame): DataFrame =
    org.apache.spark.sql.graft.Bridge.rebind(
      GraftTable.microsSessionFor(spark), df)

  private def writeCommitFiles(df0: DataFrame): Seq[String] = {
    // the single file-write boundary: frames are LOGICAL above here,
    // files carry PHYSICAL names (renameToPhysical — identity when the
    // table has no column mapping)
    val df1 = renameToPhysical(df0)
    // NO isEmpty probe: it cost one extra job on EVERY commit to save a
    // write job only in the rare all-rows-deleted case — and an empty
    // partitioned write already degenerates to the same outcome (no
    // .parquet files land in staging, the walk moves nothing, the
    // commit records zero added files). A frame the optimizer already
    // folded to an empty relation (an importOnce whose rows all fall in
    // live partitions) is known empty without a job: skip the write.
    df1.queryExecution.optimizedPlan match {
      case r: org.apache.spark.sql.catalyst.plans.logical.LocalRelation
          if r.data.isEmpty => return Nil
      case _ =>
    }
    // CLUSTERED WRITES (opt-in, the 100 TB small-file lever): without
    // clustering, a partitionBy write emits one file per (task ×
    // partition value) — a 1000-task mutation touching 100 partitions
    // lands up to 100k near-empty files. The REBALANCE hint shuffles
    // rows so each output task holds whole partition values, and AQE's
    // skew-aware rebalance SPLITS a hot partition back across tasks
    // (one file per cold partition, several size-bounded files for hot
    // ones). Default OFF: local/small-SF mutations would pay a shuffle
    // per commit for nothing.
    val df =
      if (spark.conf.getOption("spark.graft.write.clusterByPartition")
          .exists(_.toBoolean))
        df1.hint("rebalance", col(partitionCol))
      else df1
    val nonce = java.util.UUID.randomUUID().toString.take(8)
    val stage = java.nio.file.Paths.get(path, "_graft_staging", s"c_$nonce")
    microsWrite(df).write.mode(SaveMode.Overwrite).partitionBy(partitionCol)
      .parquet(stage.toString)
    val moved = scala.collection.mutable.ListBuffer.empty[String]
    def walk(f: java.io.File): Unit =
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(walk)
      else if (f.getName.endsWith(".parquet")) {
        val rel = stage.relativize(f.toPath) // e.g. day=X/part-....parquet
        val dir = rel.getParent.toString
        val name = s"c$nonce-${f.getName}"
        val target = java.nio.file.Paths.get(path, dir, name)
        java.nio.file.Files.createDirectories(target.getParent)
        // plain same-volume move; the .crc checksum sibling stays behind
        // (it is name-bound) and dies with the staging dir — absent crc
        // simply skips the local-FS checksum on read
        java.nio.file.Files.move(f.toPath, target)
        moved += s"$dir/$name"
      }
    walk(stage.toFile)
    Fs.deleteTree(stage)
    moved.toSeq
  }

  /** Append-only write + delta commit: write `df`'s rows as NEW files,
    * then commit a manifest where every file under a TOUCHED partition
    * from version `base` is replaced by the new files (an emptied
    * partition simply contributes none — no directory deletion, the old
    * files stay for time travel). A commit adding no file, dropping no
    * partition and carrying no marker is skipped (no version). The rows
    * stream into the write with no barrier: a commit never deletes a
    * file, so a recomputed task re-reads exactly the files its plan was
    * built on. CHECK constraints are a second consumer of the rows, so
    * a table declaring any stages them once: the checked rows are the
    * written rows.
    *
    * LOST OCC RACE: when `partitionScoped` is true (the mutation's
    * logical read-set is contained in the partitions it writes — the
    * upsert/import tick paths), the loser first runs LOGICAL CONFLICT
    * DETECTION ([[logicalRetryBase]]): if every interleaved commit
    * provably touched only DISJOINT partitions, the already-written
    * files are still a correct post-state and are re-committed against
    * the new head — no data re-write, no wasted I/O, disjoint writers
    * scale instead of serializing. Any doubt falls back to the original
    * behavior: delete the added files (they are in no manifest) and
    * propagate the conflict for a full re-run. This is Delta's
    * WriteSerializable tier: a disjoint interleaved commit is ordered
    * AFTER this mutation's reads even though it committed first.
    */
  private def commitRewrite(df: DataFrame, touchedVals: Seq[Option[String]],
                            base: Long, markers: Seq[String] = Nil,
                            partitionScoped: Boolean = false,
                            blindRetry: Boolean = false): this.type = {
    val added =
      if (checks.isEmpty) writeCommitFiles(df)
      else {
        val staged = Staging.stage(df, "check_barrier")
        // a violation throws BEFORE anything lands
        try { enforceChecks(staged.df); writeCommitFiles(staged.df) }
        finally staged.delete()
      }
    commitFiles(added, touchedVals, base, markers, partitionScoped, blindRetry)
  }

  /** The commit half of [[commitRewrite]], for files already written. */
  private def commitFiles(added: Seq[String], touchedVals: Seq[Option[String]],
                          base: Long, markers: Seq[String],
                          partitionScoped: Boolean,
                          blindRetry: Boolean = false): this.type = {
    if (added.isEmpty && touchedVals.isEmpty && markers.isEmpty) return this
    val statsEntries = collectStatsEntries(added) // pre-commit: O(commit metadata)
    val dropDirs = touchedVals.map(partitionDirName)
    val myDirs = (dropDirs ++ added.map(parentDir)).distinct
    var b = base
    while (true) {
      try {
        commitDelta(b, dropDirs, added, markers, statsEntries)
        return this
      } catch {
        case e: CommitConflictException =>
          // IDENTITY tables never take the partition-scoped logical
          // retry: allocation read the TABLE-WIDE extremum (a read-set
          // outside the touched partitions), so a lost race against a
          // disjoint-partition writer that also allocated must re-enter
          // the whole mutation and re-read the watermark — re-committing
          // the already-written files could land the same identity block
          // twice (the same hazard [[append]]'s blindRetry=false closes
          // for INSERT INTO)
          val retryAt =
            if (blindRetry) Some(currentVersion) // empty read-set: always safe
            else if (partitionScoped && !hasIdentityColumns)
              logicalRetryBase(b, myDirs, markers)
            else None
          retryAt match {
            case Some(nb) => b = nb // re-commit the same files, no re-write
            case None =>
              added.foreach { f =>
                java.nio.file.Files.deleteIfExists(
                  java.nio.file.Paths.get(path, f)); ()
              }
              throw e
          }
      }
    }
    this
  }

  /** After a lost OCC race: the new base to re-commit against if every
    * commit that interleaved in (`base`, head] is a DELTA commit whose
    * touched partition set is disjoint from `myDirs` and which carries
    * no deletion-vector marker (a DV deletes rows in unknown
    * partitions) and no `#txn:` marker for an app this commit also
    * marks (the idempotency read would have decided differently).
    * None on any doubt — including a full checkpoint manifest, whose
    * touched set is not recorded — meaning: full retry.
    */
  private def logicalRetryBase(base: Long, myDirs: Seq[String],
                               markers: Seq[String]): Option[Long] = {
    val cur = currentVersion
    if (cur <= base) return None
    val mySet = myDirs.toSet
    val myTxnApps = markers.collect {
      case m if m.startsWith("#txn:") => m.stripPrefix("#txn:").split(":", 2)(0)
    }.toSet
    val ok = (base + 1 to cur).forall { v =>
      parseEntryFile(manifestPath(v)) match {
        case None => false // mid-commit window — retry conservatively
        case Some(es) if !isDelta(es) => false // checkpoint: unknown scope
        case Some(es) => es.forall {
          case "#delta" => true
          case e if e.startsWith("#dv:") => false
          case e if e.startsWith("#txn:") =>
            !myTxnApps.contains(e.stripPrefix("#txn:").split(":", 2)(0))
          case e if e.startsWith("#") => false // unknown marker: conservative
          case e if e.startsWith("-") => !mySet.contains(e.drop(1))
          case e if e.startsWith("+") => !mySet.contains(parentDir(e.drop(1)))
          case _ => false
        }
      }
    }
    if (ok) Some(cur) else None
  }

  // --------------------------------------- the touched-partition rewrite
  // Every copy-on-write mutation (upsert, deletes, update, merge) learns
  // the partitions it touches (Hive directory values, None = null) in a
  // pass it runs anyway, reads exactly their files of the base version,
  // and commits its rewrite against that same touched set.

  /** `df` behind a pass-through (`keep`) or drop-all filter recording
    * each row's partition value; non-deterministic, so it stays put.
    */
  private def recordPartitions(df: DataFrame, keep: Boolean)
      : (DataFrame, GraftTable.PartitionSet) = {
    val seen = new GraftTable.PartitionSet
    spark.sparkContext.register(seen)
    val record = udf { (v: String) => seen.add(Option(v)); keep }.asNondeterministic()
    (df.filter(record(col(partitionCol).cast("string"))), seen)
  }

  /** `df`'s partition values: one job, none when AQE proves `df` empty. */
  private def partitionsOf(df: DataFrame): Seq[Option[String]] = {
    val (probe, seen) = recordPartitions(df.select(col(partitionCol)), keep = false)
    probe.collect()
    seen.value.toSeq
  }

  /** Stage a multi-consumer source once, learning its partitions on the way. */
  private def stagePartitions(df: DataFrame, hint: String)
      : (Staging.Staged, Seq[Option[String]]) = {
    val (recorded, seen) = recordPartitions(df, keep = true)
    (Staging.stage(recorded, hint), seen.value.toSeq)
  }

  /** The files of version `base` under the partitions `vals`. */
  private def filesIn(base: Long, vals: Seq[Option[String]]): Seq[String] = {
    val dirs = vals.map(partitionDirName).toSet
    manifestFiles(base).filter(f => dirs.contains(parentDir(f)))
  }

  /** Version `base` of exactly the partitions `vals`, from their files. */
  private def readPartitions(base: Long, vals: Seq[Option[String]]): DataFrame = {
    val files = filesIn(base, vals)
    if (files.isEmpty && sidecarSchemaOpt.isEmpty) readAt(base).limit(0)
    else readResolved(files, base)
  }

  /** `df`'s rows in the partitions `vals`. */
  private def inPartitions(df: DataFrame, vals: Seq[Option[String]]): DataFrame =
    df.filter(partitionIn(vals))

  /** Whether a row's partition is among `vals` (null for a null partition
    * when `vals` has no None).
    */
  private def partitionIn(vals: Seq[Option[String]]): org.apache.spark.sql.Column = {
    val p = col(partitionCol).cast("string")
    val named = if (vals.exists(_.nonEmpty)) p.isin(vals.flatten: _*) else lit(false)
    if (vals.contains(None)) named || p.isNull else named
  }

  /** THE REWRITE CORE: commit `rewrite(touched partitions of base)` as
    * their new content (rows it routes elsewhere append there).
    */
  private def rewriteTouched(base: Long, touched: Seq[Option[String]],
                             markers: Seq[String] = Nil,
                             partitionScoped: Boolean = false)
                            (rewrite: DataFrame => DataFrame): this.type =
    commitRewrite(rewrite(readPartitions(base, touched)), touched, base,
      markers, partitionScoped)

  /** The partitions among `touched` where some row of `rows` is new or
    * differs from its stored row: `rows` left-anti-joined against the
    * stored rows, null-safe on every stored column. Without stored files
    * there is nothing to test; a column type without an ordering (map,
    * variant) cannot take the test, so every touched partition counts.
    */
  private def changedPartitions(rows: DataFrame, touched: Seq[Option[String]],
                                base: Long): Seq[Option[String]] = {
    val files = filesIn(base, touched)
    if (files.isEmpty) return touched
    val current = readResolved(files, base)
    val cols = current.columns.toSeq
    if (!cols.forall(rows.columns.contains) || !current.schema.forall(f =>
      org.apache.spark.sql.catalyst.expressions.RowOrdering.isOrderable(f.dataType)))
      touched
    else {
      val stored = current.select(cols.indices.map(i => col(cols(i)).as(s"__c$i")): _*)
      partitionsOf(rows.join(stored,
        cols.indices.map(i => col(cols(i)) <=> col(s"__c$i")).reduce(_ && _),
        "left_anti"))
    }
  }

  private def schemaSidecar = java.nio.file.Paths.get(path, "_graft_schema.json")

  private def sidecarSchemaOpt: Option[org.apache.spark.sql.types.StructType] =
    if (java.nio.file.Files.exists(schemaSidecar))
      Some(org.apache.spark.sql.types.DataType
        .fromJson(java.nio.file.Files.readString(schemaSidecar))
        .asInstanceOf[org.apache.spark.sql.types.StructType])
    else None

  /** The table's LOGICAL schema in DECLARED order (column mapping
    * applied, dropped slots hidden): the CREATE-time column order with
    * evolution appends at the very END — the order SQL surfaces must
    * report, since the engine's star-expansion/alignment machinery
    * (MERGE schema evolution in particular) assumes new columns land
    * last. The physical READ order differs (Spark's partition
    * discovery moves the partition column to the end); [[readAt]]
    * callers see read order, catalogs should see this.
    */
  def declaredLogicalSchema: Option[org.apache.spark.sql.types.StructType] =
    sidecarSchemaOpt.map(toLogicalSchema)

  /** SCHEMA-EVOLVE + ALIGN a mutation's rows to the table: new columns
    * append to the sidecar as nullable (old files/versions read them as
    * null); table columns the mutation lacks are padded with typed
    * nulls; overlapping columns must type-match exactly. Key and
    * partition columns are always required. Returns `df` projected to
    * the evolved column order. No-op for legacy tables without a
    * sidecar.
    */
  private def conform(df0: DataFrame,
                      insertShaped: Boolean = true): DataFrame =
    sidecarSchemaOpt match {
    case None => deriveGp(df0)
    case Some(physCur) =>
      val cur = toLogicalSchema(physCur) // mutation rows speak LOGICAL
      val df = deriveGp(df0) // synthetic tables always (re)derive __gp
      (keys :+ partitionCol).foreach(c => require(df.columns.contains(c),
        s"mutation rows must carry key/partition column '$c'"))
      val curByName = cur.fields.map(f => f.name -> f).toMap
      df.schema.fields.filter(f => curByName.contains(f.name)).foreach { f =>
        val tt = curByName(f.name).dataType
        // exact match, or the input is NARROWER along the widening
        // lattice (a table widened to BIGINT keeps accepting INT rows —
        // the projection below up-casts)
        require(tt == f.dataType ||
          GraftTable.Widenings.contains(f.dataType -> tt),
          s"column '${f.name}' has type ${f.dataType.simpleString} but the " +
            s"table stores ${tt.simpleString} — no type evolution")
      }
      val newFields = df.schema.fields.filterNot(f => curByName.contains(f.name))
        .map(f => org.apache.spark.sql.types.StructField(f.name, f.dataType,
          nullable = true))
      val evolved = evolveLogical(cur, newFields.toSeq)
      val inType = df.schema.fields.map(f => f.name -> f.dataType).toMap
      val aligned = df.select(evolved.fields.toSeq.map(f =>
        if (inType.contains(f.name)) {
          if (inType(f.name) == f.dataType) col(f.name)
          else col(f.name).cast(f.dataType).as(f.name)
        } else lit(null).cast(f.dataType).as(f.name)): _*)
      // specs BEFORE the final derive: a generated/identity column may
      // BE a partition source (bucket(8, id)) — the partition value
      // must reflect the FILLED column, or rows land in the
      // null-sentinel directory (code-review fix; the update/merge
      // paths already run respecs-then-deriveGp)
      deriveGp(applyColumnSpecs(aligned, evolved, insertShaped))
  }

  /** GENERATED + IDENTITY columns (round 11), applied on EVERY write
    * path so the invariants hold through inserts, upserts, UPDATE,
    * MERGE and partition rewrites:
    *
    *   - a `GENERATED ALWAYS AS (expr)` column is RECOMPUTED
    *     unconditionally over the final row — an UPDATE that changes a
    *     referenced column keeps the generated value consistent. On
    *     INSERT-shaped writes a provided value must EQUAL the
    *     expression's result or the statement fails in-flight (Delta
    *     semantics); an explicitly provided NULL is indistinguishable
    *     from an omitted column at this layer and takes the computed
    *     value (documented divergence — Delta rejects it);
    *   - an IDENTITY column fills its NULL slots from a fresh block
    *     above (below, for negative steps) the CURRENT extremum — the
    *     table itself is the allocation state (no sidecar counter, no
    *     crash window): the high watermark reads METADATA-ONLY through
    *     the zone maps when provable ([[metadataAggregates]]; identity
    *     columns are auto-stats-tracked at CREATE), else one max()
    *     scan. Values are unique, monotone in allocation order, NOT
    *     gap-free (the Delta identity contract — a per-task offset
    *     avoids any global ordering shuffle). Rows that already carry
    *     a value (rewrites; explicit inserts) keep it.
    *
    * Concurrency: an identity allocation is a READ of the table's
    * extremum, so identity-table appends never blind-retry — a lost
    * OCC race re-enters and re-reads ([[append]]).
    */
  /** Re-apply the generated/identity specs to a REWRITE frame — the
    * UPDATE/MERGE paths build their result directly (assignments may
    * have changed referenced columns; merge inserts carry null
    * identity slots), so they re-enter here instead of [[conform]].
    */
  private def respecs(df: DataFrame, mayAllocate: Boolean = true): DataFrame =
    sidecarSchemaOpt.map(p =>
      applyColumnSpecs(df, toLogicalSchema(p), insertShaped = false,
        mayAllocate = mayAllocate))
      .getOrElse(df)

  /** Logical names of the declared IDENTITY columns (empty without a
    * sidecar).
    */
  private def identityColumnNames: Seq[String] =
    sidecarSchemaOpt.toSeq.flatMap(p => toLogicalSchema(p).fields.toSeq
      .filter(_.metadata.contains(GraftTable.IdentityStartKey)).map(_.name))

  /** Does the declared schema carry any IDENTITY column? Identity
    * allocation reads the table-wide extremum, which widens every
    * mutation's read-set beyond its touched partitions — the OCC retry
    * tiers (blind append retry, partition-scoped logical retry) check
    * this to fall back to full re-entry.
    */
  private def hasIdentityColumns: Boolean =
    sidecarSchemaOpt.exists(_.fields.exists(
      _.metadata.contains(GraftTable.IdentityStartKey)))

  private def applyColumnSpecs(df: DataFrame,
                               schema: org.apache.spark.sql.types.StructType,
                               insertShaped: Boolean = true,
                               mayAllocate: Boolean = true)
      : DataFrame = {
    import GraftTable.{GeneratedExprKey, IdentityExplicitKey, IdentityStartKey, IdentityStepKey}
    val gen = schema.fields.filter(_.metadata.contains(GeneratedExprKey))
    val ident = schema.fields.filter(_.metadata.contains(IdentityStartKey))
    if (gen.isEmpty && ident.isEmpty) return df
    var out = df
    gen.foreach { f =>
      val computed = expr(f.metadata.getString(GeneratedExprKey))
        .cast(f.dataType)
      // Delta semantics on INSERT-shaped writes: an explicitly provided
      // value must EQUAL the generation expression's result, else the
      // statement fails in-flight (a silent overwrite would hide the
      // caller's bug; a silent accept would break the invariant).
      // Rewrite paths (respecs) recompute unconditionally — an UPDATE
      // changing a referenced column keeps the generated value
      // consistent by construction.
      val value =
        if (insertShaped)
          when(col(f.name).isNotNull && !(col(f.name) <=> computed),
            raise_error(concat(
              lit(s"generated column '${f.name}' is GENERATED ALWAYS AS " +
                "(...) — a provided value must match the expression (got "),
              col(f.name).cast("string"), lit(", expected "),
              computed.cast("string"), lit(")"))).cast(f.dataType))
            .otherwise(computed)
        else computed
      out = out.withColumn(f.name, value)
    }
    // a rewrite frame the caller PROVES carries no null identity slot
    // (an UPDATE/MERGE that never assigns the identity column and
    // inserts nothing re-lands stored values only) skips the whole
    // allocation arm — no high-watermark read, metadata or otherwise,
    // on the hot mutation path
    ident.filter(_ => mayAllocate).foreach { f =>
      val start = f.metadata.getLong(IdentityStartKey)
      val step = f.metadata.getLong(IdentityStepKey)
      require(step != 0, s"identity column '${f.name}': step must be nonzero")
      val spec: GraftTable.MetaAgg =
        if (step > 0) GraftTable.MetaMax(f.name) else GraftTable.MetaMin(f.name)
      val hw: Option[Long] = {
        val v = currentVersion
        val meta =
          if (v > 0) metadataAggregates(v, Seq(spec)).map(_.head) else Some(null)
        meta match {
          case Some(null) => None // provably empty column
          case Some(x: java.lang.Long) => Some(x.longValue)
          case Some(x: java.lang.Integer) => Some(x.longValue)
          case _ => // unprovable (stats-free files) — one narrow scan
            val agg = if (step > 0) max(col(f.name)) else min(col(f.name))
            Option(read.agg(agg.cast("long")).collect()(0))
              .filterNot(_.isNullAt(0)).map(_.getLong(0))
        }
      }
      val base = hw match {
        case Some(h) =>
          if (step > 0) math.max(h, start - step)
          else math.min(h, start - step)
        case None => start - step
      }
      val allocated =
        (lit(base) + (monotonically_increasing_id() + lit(1L)) * lit(step))
          .cast(f.dataType)
      val allowExplicit = !f.metadata.contains(IdentityExplicitKey) ||
        f.metadata.getBoolean(IdentityExplicitKey)
      // GENERATED ALWAYS (allowExplicitInsert = false): an INSERT that
      // provides the column rejects (the SQL/Delta contract — a silent
      // duplicate would break the uniqueness the column exists for);
      // rewrite paths (respecs) keep existing values by construction
      val filled =
        if (insertShaped && !allowExplicit)
          when(col(f.name).isNotNull, raise_error(concat(
            lit(s"identity column '${f.name}' is GENERATED ALWAYS — " +
              "explicit inserts are not allowed (got "),
            col(f.name).cast("string"), lit(")"))).cast(f.dataType))
            .otherwise(allocated)
        else coalesce(col(f.name), allocated)
      out = out.withColumn(f.name, filled)
    }
    out
  }

  // ----------------------------------------------------- column mapping

  private def colMapSidecar = java.nio.file.Paths.get(path, "_graft_colmap.json")

  /** COLUMN MAPPING (the Delta column-mapping shape, round 11): the
    * table's LOGICAL (user-visible) column names map onto fixed
    * PHYSICAL (in-file) names, making RENAME COLUMN and DROP COLUMN
    * metadata-only — zero file rewrites, history included. Returns
    * (logical → physical for every column where the two differ,
    * HIDDEN physical names — dropped columns). A hidden physical slot
    * is never reused: a re-added same-named column gets a FRESH
    * physical name, so old files' bytes can never resurrect under the
    * new column. Absent sidecar = identity — every legacy code path is
    * byte-identical. Files, manifests, zone maps and Bloom indexes
    * speak PHYSICAL; everything above [[readFiles]] (reads rename
    * physical → logical) and [[writeCommitFiles]] (writes rename
    * logical → physical) speaks LOGICAL.
    */
  // parse cache keyed by the sidecar's mtime: hot read paths (every
  // readFiles, every scan-planning attribute translation) pay one
  // exists() — and at most one stat() — per call instead of re-parsing;
  // writeColMap's tmp+atomic-move always lands a fresh mtime. DDL is
  // rare enough that millisecond mtime granularity is not a risk.
  @volatile private var colMapCache
      : (Long, (Map[String, String], Set[String])) = null

  def columnMap: (Map[String, String], Set[String]) =
    if (!java.nio.file.Files.exists(colMapSidecar)) (Map.empty, Set.empty)
    else {
      val mt = java.nio.file.Files.getLastModifiedTime(colMapSidecar).toMillis
      val cached = colMapCache
      if (cached != null && cached._1 == mt) cached._2
      else {
        val dec = (s: String) =>
          new String(java.util.Base64.getDecoder.decode(s), "UTF-8")
        val lines = java.nio.file.Files.readAllLines(colMapSidecar)
          .toArray.toSeq.map(_.toString).filter(_.nonEmpty)
        val m = lines.collect { case l if l.startsWith("m\t") =>
          val Array(_, lo, ph) = l.split("\t", 3); dec(lo) -> dec(ph)
        }.toMap
        val h = lines.collect { case l if l.startsWith("h\t") =>
          dec(l.split("\t", 2)(1))
        }.toSet
        colMapCache = (mt, (m, h))
        (m, h)
      }
    }

  private def writeColMap(m: Map[String, String], h: Set[String]): Unit = {
    val enc = (s: String) => java.util.Base64.getEncoder
      .encodeToString(s.getBytes("UTF-8"))
    val body = (m.toSeq.sortBy(_._1).map { case (l, p) =>
      s"m\t${enc(l)}\t${enc(p)}"
    } ++ h.toSeq.sorted.map(p => s"h\t${enc(p)}")).mkString("\n")
    val tmp = java.nio.file.Paths.get(path,
      s"._graft_colmap_tmp_${java.util.UUID.randomUUID().toString.take(8)}")
    java.nio.file.Files.writeString(tmp, body)
    java.nio.file.Files.move(tmp, colMapSidecar,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    ()
  }

  /** The PHYSICAL (in-file) name of a logical column (identity when
    * unmapped).
    */
  def physicalName(logical: String): String =
    columnMap._1.getOrElse(logical, logical)

  /** The LOGICAL name a physical column surfaces as (identity when
    * unmapped).
    */
  def logicalName(physical: String): String =
    columnMap._1.collectFirst { case (l, p) if p == physical => l }
      .getOrElse(physical)

  /** A physical schema as its LOGICAL projection: hidden columns drop,
    * mapped columns rename; order preserved.
    */
  private def toLogicalSchema(phys: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = {
    val (m, h) = columnMap
    if (m.isEmpty && h.isEmpty) phys
    else {
      val physToLog = m.map(_.swap)
      org.apache.spark.sql.types.StructType(
        phys.fields.filterNot(f => h.contains(f.name))
          .map(f => f.copy(name = physToLog.getOrElse(f.name, f.name))))
    }
  }

  /** Rename a frame read from FILES (physical names) to the logical
    * surface — the read boundary. Identity when unmapped.
    */
  private def renameToLogical(df: DataFrame): DataFrame = {
    val (m, h) = columnMap
    if (m.isEmpty && h.isEmpty) df
    else {
      val physToLog = m.map(_.swap)
      df.select(df.columns.toSeq.filterNot(h.contains)
        .map(p => col(p).as(physToLog.getOrElse(p, p))): _*)
    }
  }

  /** Rename a LOGICAL frame to physical names just before it lands as
    * files — the write boundary. Identity when unmapped.
    */
  private def renameToPhysical(df: DataFrame): DataFrame = {
    val (m, _) = columnMap
    if (m.isEmpty) df
    else df.select(df.columns.toSeq.map(l => col(l).as(m.getOrElse(l, l))): _*)
  }

  /** The PHYSICAL schema of the VISIBLE columns, in logical order —
    * what the DSv2 parquet machinery scans with ([[read]]'s schema is
    * its logical rename). Falls back to the public read schema for
    * unmapped (incl. legacy sidecar-less) tables.
    */
  def physicalReadSchema: org.apache.spark.sql.types.StructType = {
    val (m, h) = columnMap
    if (m.isEmpty && h.isEmpty) read.schema
    else org.apache.spark.sql.types.StructType(
      sidecarSchemaOpt.get.fields.filterNot(f => h.contains(f.name)))
  }

  /** Columns a CHECK constraint references (rename/drop must not
    * silently break a stored predicate) — matched CASE-INSENSITIVELY
    * on the LAST name part, since Spark resolves CHECK predicates
    * case-insensitively and qualified (`t.v`) references resolve to
    * the bare column.
    */
  private def checkReferences: Map[String, Seq[String]] =
    checks.map { case (n, e) =>
      n -> scala.util.Try(spark.sessionState.sqlParser.parseExpression(e)
        .collect { case u: org.apache.spark.sql.catalyst.analysis
          .UnresolvedAttribute => u.nameParts.last.toLowerCase }.distinct)
        .getOrElse(Seq.empty)
    }

  private def guardMappable(op: String, name: String): Unit = {
    require(!keys.contains(name),
      s"$op: '$name' is a key column — keys are identity-bearing and " +
        "cannot be renamed or dropped")
    require(name != partitionCol && !partitionSrc.contains(name),
      s"$op: '$name' drives the partition layout and cannot be renamed " +
        "or dropped")
    val broken = checkReferences
      .filter(_._2.contains(name.toLowerCase)).keys.toSeq.sorted
    require(broken.isEmpty,
      s"$op: '$name' is referenced by CHECK constraint(s) " +
        s"${broken.mkString(", ")} — drop them first")
    // a rename/drop would break generation expressions referencing the
    // column by name (the expression string cannot translate)
    sidecarSchemaOpt.foreach(_.fields
      .filter(_.metadata.contains(GraftTable.GeneratedExprKey)).foreach { f =>
        val refs = scala.util.Try(
          spark.sessionState.sqlParser.parseExpression(
            f.metadata.getString(GraftTable.GeneratedExprKey))
            .collect { case a: org.apache.spark.sql.catalyst.analysis
              .UnresolvedAttribute => a.nameParts.last.toLowerCase }
        ).getOrElse(Seq.empty)
        require(!refs.contains(name.toLowerCase),
          s"$op: '$name' is referenced by generated column '${f.name}' " +
            s"(${f.metadata.getString(GraftTable.GeneratedExprKey)})")
      })
  }

  /** METADATA-ONLY COLUMN RENAME (the Delta column-mapping rename):
    * the logical name changes, every file — past and future versions —
    * keeps the physical name; reads translate. Key, partition-layout
    * and CHECK-referenced columns reject. Time travel reads history
    * through the CURRENT names (the existing evolved-schema semantics).
    */
  def renameColumn(oldName: String, newName: String): this.type =
    withSidecarLock {
      val logical = read.schema.fieldNames.toSeq
      require(logical.contains(oldName),
        s"renameColumn: no column '$oldName' — columns: ${logical.mkString(", ")}")
      require(!logical.contains(newName),
        s"renameColumn: a column named '$newName' already exists")
      require(!newName.startsWith("__"),
        s"renameColumn: '$newName' is in the reserved __ name space")
      guardMappable("renameColumn", oldName)
      val (m, h) = columnMap
      writeColMap(m - oldName + (newName -> m.getOrElse(oldName, oldName)), h)
      this
    }

  /** METADATA-ONLY COLUMN DROP (the Delta column-mapping drop): the
    * physical column stays in already-written files but becomes
    * invisible at every version, and its physical slot is retired — a
    * later ADD COLUMN with the same name gets a fresh slot and reads
    * null for old rows, never the dropped bytes. Key, partition-layout
    * and CHECK-referenced columns reject.
    */
  def dropColumn(name: String): this.type = withSidecarLock {
    val logical = read.schema.fieldNames.toSeq
    require(logical.contains(name),
      s"dropColumn: no column '$name' — columns: ${logical.mkString(", ")}")
    guardMappable("dropColumn", name)
    val (m, h) = columnMap
    writeColMap(m - name, h + m.getOrElse(name, name))
    this
  }

  /** METADATA-ONLY TYPE WIDENING (`ALTER TABLE … ALTER COLUMN c TYPE
    * t`): the declared schema widens along [[GraftTable.Widenings]]
    * and every already-written file keeps its narrower physical type —
    * Spark's parquet readers up-convert per file (probed both
    * vectorized and row-based), zone maps stay valid (canon tags are
    * invariant under the lattice), and new files land the wide type.
    * Mutations may keep supplying the NARROWER type — [[conform]]
    * up-casts along the same lattice. Partition-layout columns reject
    * (directory values are parsed by the declared type — widening them
    * is possible but gratuitous churn); anything off-lattice rejects
    * (it would reinterpret already-written bytes).
    */
  def widenColumnType(name: String,
                      to: org.apache.spark.sql.types.DataType): this.type =
    withSidecarLock {
      val phys = sidecarSchemaOpt.getOrElse(throw new IllegalArgumentException(
        s"widenColumnType: table $path has no schema sidecar"))
      val logical = toLogicalSchema(phys)
      require(logical.fieldNames.contains(name),
        s"widenColumnType: no column '$name' — columns: " +
          logical.fieldNames.mkString(", "))
      require(name != partitionCol && !partitionSrc.contains(name),
        s"widenColumnType: '$name' drives the partition layout")
      val p = physicalName(name)
      val from = phys.fields(phys.fieldIndex(p)).dataType
      if (from == to) return this
      require(GraftTable.Widenings.contains(from -> to),
        s"widenColumnType: ${from.simpleString} -> ${to.simpleString} is " +
          "not a supported widening — supported: byte/short/int/long " +
          "up-chain and float -> double (anything else would reinterpret " +
          "already-written bytes)")
      writeSchemaSidecar(org.apache.spark.sql.types.StructType(
        phys.fields.map(f => if (f.name == p) f.copy(dataType = to) else f)))
      this
    }

  // ------------------------------------------------------ column stats

  private def statsSidecar = java.nio.file.Paths.get(path, "_graft_stats.json")

  /** ANALYZE: ONE distributed pass over the live table computing
    * row count, per-column approximate NDV (HLL), null counts,
    * integral/floating extrema and string/binary lengths — persisted
    * to the stats sidecar, from where the SQL scan reports them as V2
    * column statistics into Spark's cost-based optimizer (join
    * reordering, filter selectivity, broadcast decisions). Scale
    * shape: a single map-side-combined aggregate (no per-column
    * scans); re-run after bulk loads, stale stats only weaken
    * estimates.
    */
  def analyzeTable(columns: Seq[String] = Nil,
                   histogramBins: Int = 64): GraftTable.TableStats = {
    import org.apache.spark.sql.types._
    require(histogramBins >= 0 && histogramBins <= 1024,
      s"histogramBins must be in [0, 1024], got $histogramBins")
    val v = currentVersion
    val df = read
    val byName = df.schema.fields.map(f => f.name -> f).toMap
    val targets =
      (if (columns.nonEmpty) columns
       else df.schema.fieldNames.toSeq.filterNot(_ == GraftTable.SyntheticPartition))
        .distinct
    targets.foreach(c => require(byName.contains(c),
      s"analyzeTable: no column '$c' — table has " +
        df.schema.fieldNames.mkString(", ")))
    def numeric(c: String) = byName(c).dataType match {
      case ByteType | ShortType | IntegerType | LongType |
           FloatType | DoubleType => true
      case _ => false
    }
    val aggs = scala.collection.mutable.ArrayBuffer[org.apache.spark.sql.Column](
      count(lit(1)).as("__rows"))
    targets.foreach { c =>
      aggs += approx_count_distinct(col(c)).as(s"__ndv_$c")
      aggs += sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"__nc_$c")
      byName(c).dataType match {
        case ByteType | ShortType | IntegerType | LongType |
             FloatType | DoubleType =>
          // exact string rendering — a double roundtrip would corrupt
          // BIGINT extrema beyond 2^53 before they reach the optimizer
          aggs += min(col(c)).cast("string").as(s"__mn_$c")
          aggs += max(col(c)).cast("string").as(s"__mx_$c")
        case StringType =>
          aggs += ceil(avg(length(col(c)))).cast("long").as(s"__al_$c")
          aggs += max(length(col(c))).cast("long").as(s"__ml_$c")
        case BinaryType =>
          aggs += ceil(avg(org.apache.spark.sql.functions.octet_length(col(c))))
            .cast("long").as(s"__al_$c")
          aggs += max(org.apache.spark.sql.functions.octet_length(col(c)))
            .cast("long").as(s"__ml_$c")
        case _ => () // ndv + null count only
      }
      // EQUI-HEIGHT histogram endpoints for numeric columns, in the
      // SAME single pass (the percentile sketch rides the aggregate):
      // bin boundaries at i/bins quantiles — narrow bins where the
      // data is dense, so a range predicate over a skewed column
      // estimates from bin coverage instead of the min/max uniform
      // interpolation that skew defeats
      if (histogramBins > 0 && numeric(c))
        aggs += percentile_approx(col(c).cast("double"),
          array((0 to histogramBins).map(i =>
            lit(i.toDouble / histogramBins)): _*),
          lit(10000)).as(s"__hb_$c")
    }
    val row = df.agg(aggs.head, aggs.tail.toSeq: _*).collect()(0)
    def optL(n: String): Option[Long] = {
      val i = row.fieldIndex(n)
      if (row.isNullAt(i)) None else Some(row.getLong(i))
    }
    def optS(n: String): Option[String] = {
      val i = scala.util.Try(row.fieldIndex(n)).getOrElse(-1)
      if (i < 0 || row.isNullAt(i)) None else Some(row.getString(i))
    }
    def optLIf(n: String): Option[Long] = {
      val i = scala.util.Try(row.fieldIndex(n)).getOrElse(-1)
      if (i < 0 || row.isNullAt(i)) None else Some(row.getLong(i))
    }
    val rowCount = row.getLong(0)
    def hist(c: String, ndv: Option[Long], nulls: Option[Long])
        : Option[GraftTable.Hist] = {
      val i = scala.util.Try(row.fieldIndex(s"__hb_$c")).getOrElse(-1)
      if (i < 0 || row.isNullAt(i)) return None
      val eps = row.getSeq[Double](i)
      if (eps.length < 2) return None
      val bins = eps.length - 1
      val nonNull = rowCount - nulls.getOrElse(0L)
      if (nonNull <= 0) return None
      // uniform NDV split; a collapsed bin (lo == hi) is one
      // heavy-hitter value
      val perBin = math.max(1L,
        math.round(ndv.getOrElse(bins.toLong).toDouble / bins))
      Some(GraftTable.Hist(nonNull.toDouble / bins,
        eps.sliding(2).map { w =>
          GraftTable.HistBin(w(0), w(1),
            if (w(0) == w(1)) 1L else perBin)
        }.toSeq))
    }
    val stats = GraftTable.TableStats(v, rowCount,
      targets.map { c =>
        val ndv = optL(s"__ndv_$c")
        val nc = optL(s"__nc_$c")
        c -> GraftTable.ColumnStats(ndv, nc,
          optS(s"__mn_$c"), optS(s"__mx_$c"),
          optLIf(s"__al_$c"), optLIf(s"__ml_$c"), hist(c, ndv, nc))
      }.toMap)
    writeTableStats(stats)
    stats
  }

  private def writeTableStats(ts: GraftTable.TableStats): Unit = {
    val enc = (s: String) => java.util.Base64.getEncoder
      .encodeToString(s.getBytes("UTF-8"))
    def r(o: Option[_]): String = o.map(_.toString).getOrElse("")
    val body = (s"t\t${ts.version}\t${ts.rowCount}" +: ts.cols.toSeq
      .sortBy(_._1).flatMap { case (c, cs) =>
        // doubles render through toString (round-trip exact); the `h`
        // histogram line is optional and ignored by older parsers
        val hLine = cs.hist.map { h =>
          s"h\t${enc(c)}\t${h.height}\t" +
            h.bins.map(b => s"${b.lo}:${b.hi}:${b.ndv}").mkString(",")
        }
        Seq(s"c\t${enc(c)}\t${r(cs.ndv)}\t${r(cs.nullCount)}\t${r(cs.min)}\t" +
          s"${r(cs.max)}\t${r(cs.avgLen)}\t${r(cs.maxLen)}") ++ hLine
      }).mkString("\n")
    val tmp = java.nio.file.Paths.get(path,
      s"._graft_stats_tmp_${java.util.UUID.randomUUID().toString.take(8)}")
    java.nio.file.Files.writeString(tmp, body)
    java.nio.file.Files.move(tmp, statsSidecar,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    ()
  }

  // parse cache keyed by the sidecar's mtime (the colMapCache
  // pattern): estimateStatistics runs during EVERY query compilation
  // over the table — repeated per-plan file reads+parses would sit on
  // the planning hot path; writeTableStats' tmp+atomic-move always
  // lands a fresh mtime
  @volatile private var statsCache: (Long, Option[GraftTable.TableStats]) = null

  /** The last ANALYZE's output, if any (column names are LOGICAL as of
    * analyze time — a later rename invalidates that column's entry by
    * name, which simply stops feeding it).
    */
  def tableStats: Option[GraftTable.TableStats] =
    if (!java.nio.file.Files.exists(statsSidecar)) None
    else {
      val mt = java.nio.file.Files.getLastModifiedTime(statsSidecar).toMillis
      val cached = statsCache
      if (cached != null && cached._1 == mt) cached._2
      else {
        val parsed = parseTableStats()
        statsCache = (mt, parsed)
        parsed
      }
    }

  private def parseTableStats(): Option[GraftTable.TableStats] =
    scala.util.Try {
      val dec = (s: String) =>
        new String(java.util.Base64.getDecoder.decode(s), "UTF-8")
      val lines = java.nio.file.Files.readAllLines(statsSidecar)
        .toArray.toSeq.map(_.toString).filter(_.nonEmpty)
      val Array(_, v, rows) = lines.head.split("\t", 3)
      def oL(s: String) = if (s.isEmpty) None else Some(s.toLong)
      def oS(s: String) = if (s.isEmpty) None else Some(s)
      val hists = lines.tail.filter(_.startsWith("h\t")).map { l =>
        val p = l.split("\t", 4)
        dec(p(1)) -> GraftTable.Hist(p(2).toDouble,
          p(3).split(',').toSeq.map { b =>
            val Array(lo, hi, n) = b.split(':')
            GraftTable.HistBin(lo.toDouble, hi.toDouble, n.toLong)
          })
      }.toMap
      val cols = lines.tail.filter(_.startsWith("c\t")).map { l =>
        val p = l.split("\t", 8)
        val name = dec(p(1))
        name -> GraftTable.ColumnStats(oL(p(2)), oL(p(3)),
          oS(p(4)), oS(p(5)), oL(p(6)), oL(p(7)), hists.get(name))
      }.toMap
      GraftTable.TableStats(v.toLong, rows.toLong, cols)
    }.toOption

  // ------------------------------------------------- table properties

  private def propsSidecar = java.nio.file.Paths.get(path, "_graft_props.json")

  /** Free-form table properties (`ALTER TABLE … SET TBLPROPERTIES`,
    * or non-config keys at CREATE): persisted name → value. Engine
    * POLICIES read from here — `analyze_after_commits => N` re-runs
    * the last ANALYZE automatically once the stats drift N commits
    * behind (see [[maybeAutoAnalyze]]).
    */
  def tableProps: Map[String, String] =
    if (!java.nio.file.Files.exists(propsSidecar)) Map.empty
    else java.nio.file.Files.readAllLines(propsSidecar).toArray.toSeq
      .map(_.toString).filter(_.nonEmpty)
      .map { line =>
        val Array(k, v) = line.split("\t", 2)
        new String(java.util.Base64.getDecoder.decode(k), "UTF-8") ->
          new String(java.util.Base64.getDecoder.decode(v), "UTF-8")
      }.toMap

  private def writeProps(ps: Map[String, String]): Unit = {
    val enc = (s: String) => java.util.Base64.getEncoder
      .encodeToString(s.getBytes("UTF-8"))
    val tmp = java.nio.file.Paths.get(path,
      s"._graft_props_tmp_${java.util.UUID.randomUUID().toString.take(8)}")
    java.nio.file.Files.writeString(tmp,
      ps.toSeq.sortBy(_._1).map { case (k, v) => s"${enc(k)}\t${enc(v)}" }
        .mkString("\n"))
    java.nio.file.Files.move(tmp, propsSidecar,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    ()
  }

  private def validateProp(k: String, v: String): Unit = {
    require(k.nonEmpty && !k.contains("\t"), s"bad property name '$k'")
    if (k == GraftTable.AutoAnalyzeProp)
      require(scala.util.Try(v.toLong).toOption.exists(_ > 0),
        s"$k must be a positive integer (commits of stats drift " +
          s"before an automatic re-ANALYZE), got '$v'")
  }

  /** SET properties (validated: policy keys reject bad values loudly
    * at DDL time, never at the commit that would consult them).
    */
  def setTableProps(ps: Map[String, String]): this.type = {
    ps.foreach { case (k, v) => validateProp(k, v) }
    withSidecarLock { writeProps(tableProps ++ ps) }
    this
  }

  /** UNSET properties by name (no-op for absent keys). */
  def unsetTableProps(ks: Seq[String]): this.type = {
    withSidecarLock { writeProps(tableProps -- ks) }
    this
  }

  /** STATS AUTO-REFRESH (`analyze_after_commits => N`): after a
    * successful data commit, when the stats sidecar has drifted ≥ N
    * commits behind the table, re-run the LAST analyze — same columns,
    * same histogram resolution — so CBO estimates track continuous
    * ingest without an operator in the loop. A table never analyzed
    * gets the default full analyze (the property IS the opt-in).
    * Runs post-commit and best-effort: a stats failure never fails the
    * writer, and the cost (one map-side-combined stats pass) is the
    * price the property explicitly opts into, paid by every Nth
    * commit.
    */
  private def maybeAutoAnalyze(v: Long): Unit = {
    val n = tableProps.get(GraftTable.AutoAnalyzeProp)
      .flatMap(s => scala.util.Try(s.toLong).toOption).getOrElse(return)
    if (n <= 0) return
    val ts = tableStats
    val staleBy = v - ts.map(_.version).getOrElse(0L)
    if (staleBy < n) return
    scala.util.Try {
      val cols = ts.map(_.cols.keys.toSeq.sorted).getOrElse(Nil)
      val bins = ts.map(_.cols.values.flatMap(_.hist)
        .map(_.bins.length).maxOption.getOrElse(0)).getOrElse(64)
      analyzeTable(cols, bins)
    }
    ()
  }

  private def checksSidecar = java.nio.file.Paths.get(path, "_graft_checks.json")

  /** The table's CHECK constraints: name → SQL boolean expression over
    * a row. ANSI semantics — a row VIOLATES a check only when the
    * expression evaluates to FALSE (null/unknown passes).
    */
  def checks: Map[String, String] =
    if (!java.nio.file.Files.exists(checksSidecar)) Map.empty
    else java.nio.file.Files.readAllLines(checksSidecar).toArray.toSeq
      .map(_.toString).filter(_.nonEmpty)
      .map { line =>
        val Array(n, e) = line.split("\t", 2)
        new String(java.util.Base64.getDecoder.decode(n), "UTF-8") ->
          new String(java.util.Base64.getDecoder.decode(e), "UTF-8")
      }.toMap

  private def writeChecks(cs: Map[String, String]): Unit = {
    val enc = (s: String) => java.util.Base64.getEncoder
      .encodeToString(s.getBytes("UTF-8"))
    val tmp = java.nio.file.Paths.get(path,
      s"._graft_checks_tmp_${java.util.UUID.randomUUID().toString.take(8)}")
    java.nio.file.Files.writeString(tmp,
      cs.toSeq.sortBy(_._1).map { case (n, e) => s"${enc(n)}\t${enc(e)}" }
        .mkString("\n"))
    java.nio.file.Files.move(tmp, checksSidecar,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  /** ADD a CHECK constraint (the Delta `ALTER TABLE ADD CONSTRAINT`
    * discipline): the EXISTING table is validated first — a violating
    * table rejects the constraint — then every future mutation enforces
    * it on the rows it writes BEFORE anything lands (a violating
    * mutation throws [[CheckViolationException]] and commits nothing:
    * no files, no version). Enforcement costs one extra pass over the
    * commit's rows — O(commit), never O(table).
    */
  def addCheck(name: String, predicate: String): this.type = {
    require(name.nonEmpty && !name.contains("\t"), s"bad check name '$name'")
    val bad = read.filter(!coalesce(expr(predicate), lit(true))).limit(1).count()
    if (bad > 0)
      throw new CheckViolationException(
        s"existing rows violate check '$name' ($predicate) — constraint not added")
    // the sidecar read-modify-write is serialized (concurrent
    // addCheck/dropCheck cannot lose each other's update). DDL caveat,
    // documented: the validation scan above is NOT transactional with
    // the sidecar write — a mutation committing in between could land
    // rows violating the new constraint, which is then only enforced
    // going forward (Delta has the same ADD CONSTRAINT window). Run DDL
    // without concurrent writers.
    withSidecarLock { writeChecks(checks + (name -> predicate)) }
    this
  }

  /** Drop a CHECK constraint by name (no-op if absent). */
  def dropCheck(name: String): this.type = {
    withSidecarLock { writeChecks(checks - name) }
    this
  }

  /** Enforce every CHECK on the rows a commit is about to write: one
    * combined-predicate probe job; on violation a second (failure-path
    * only) pass names the broken constraint.
    */
  private def enforceChecks(df: DataFrame): Unit = {
    val cs = checks
    if (cs.isEmpty) return
    val anyBad = cs.values.map(p => !coalesce(expr(p), lit(true))).reduce(_ || _)
    if (df.filter(anyBad).limit(1).count() > 0) {
      val broken = cs.find { case (_, p) =>
        df.filter(!coalesce(expr(p), lit(true))).limit(1).count() > 0
      }.get
      throw new CheckViolationException(
        s"mutation rows violate check '${broken._1}' (${broken._2}) — " +
          "nothing was committed")
    }
  }

  /** Serialize sidecar read-modify-writes: same-JVM writers queue on an
    * interned per-path monitor, cross-process writers on an exclusive
    * file lock (a JVM throws OverlappingFileLockException rather than
    * block on its own lock, hence the monitor first). On an object
    * store the same contract needs a conditional put / lease — the lock
    * file is the local-FS stand-in.
    */
  private def withSidecarLock[T](body: => T): T =
    (path + "#_graft_schema").intern.synchronized {
      val lockPath = java.nio.file.Paths.get(path, "._graft_schema.lock")
      val ch = java.nio.channels.FileChannel.open(lockPath,
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.WRITE)
      try {
        val l = ch.lock()
        try body finally { l.release() }
      } finally ch.close()
    }

  /** Append `newFields` (nullable) to the schema sidecar atomically and
    * return the resulting schema (no-op when empty). MERGE-BY-UNION
    * under [[withSidecarLock]]: the sidecar is RE-READ inside the lock
    * and the append goes on top of whatever is there NOW — so a
    * concurrent writer's freshly-appended fields are never dropped by a
    * stale read-modify-write (writer A evolves +X, writer B holding the
    * pre-A schema evolves +Y ⇒ the sidecar ends with both X and Y, in
    * commit order), and B's projection pads null for X like any reader.
    * A same-name append with a DIFFERENT type than the (possibly
    * concurrent) existing field is rejected — silently writing files
    * typed T2 under a sidecar typed T1 would corrupt every read.
    */
  /** `ALTER TABLE ADD COLUMNS` — append nullable columns to the schema
    * sidecar (the lock-safe merge-by-union evolution the write path
    * uses): existing files and versions project typed null for them,
    * no data rewrites. Same-name re-adds with a different type reject.
    */
  def addColumns(fields: Seq[org.apache.spark.sql.types.StructField])
      : org.apache.spark.sql.types.StructType = {
    require(fields.nonEmpty, "addColumns needs at least one column")
    require(fields.forall(_.nullable),
      "added columns must be nullable — existing rows project null")
    evolveLogical(org.apache.spark.sql.types.StructType(read.schema.fields),
      fields)
  }

  private[operators] def evolveSidecar(cur: org.apache.spark.sql.types.StructType,
                            newFields: Seq[org.apache.spark.sql.types.StructField])
      : org.apache.spark.sql.types.StructType =
    if (newFields.isEmpty) cur
    else withSidecarLock {
      val fresh = sidecarSchemaOpt.getOrElse(cur)
      val freshBy = fresh.fields.map(f => f.name -> f).toMap
      newFields.foreach { f =>
        freshBy.get(f.name).foreach { g =>
          require(g.dataType == f.dataType,
            s"column '${f.name}' was concurrently evolved to type " +
              s"${g.dataType.simpleString}; this mutation carries " +
              s"${f.dataType.simpleString} — no type evolution")
        }
      }
      val toAdd = newFields.filterNot(f => freshBy.contains(f.name))
        .map(GraftTable.tagEvolved)
      val s2 = org.apache.spark.sql.types.StructType(fresh.fields ++ toAdd)
      if (toAdd.nonEmpty) writeSchemaSidecar(s2)
      s2
    }

  private def writeSchemaSidecar(s2: org.apache.spark.sql.types.StructType): Unit = {
    val tmp = java.nio.file.Paths.get(path,
      s"._graft_schema_tmp_${java.util.UUID.randomUUID().toString.take(8)}")
    java.nio.file.Files.writeString(tmp, s2.json)
    java.nio.file.Files.move(tmp, schemaSidecar,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    ()
  }

  /** MAPPING-AWARE [[evolveSidecar]]: `newFields` carry LOGICAL names.
    * Each genuinely-new column gets a collision-free PHYSICAL slot —
    * a name whose slot was EVER used (live, mapped-away or dropped)
    * gets a fresh one, so a dropped column's bytes can never resurrect
    * under a re-added name — plus a map entry when the two differ.
    * Same-name re-evolves type-check like [[evolveSidecar]]; unmapped
    * tables take the identical legacy path (physical == logical).
    * Returns the evolved LOGICAL schema.
    */
  private[operators] def evolveLogical(cur: org.apache.spark.sql.types.StructType,
      newFields: Seq[org.apache.spark.sql.types.StructField])
      : org.apache.spark.sql.types.StructType = {
    if (newFields.isEmpty) return cur
    val (m0, h0) = columnMap
    if (m0.isEmpty && h0.isEmpty) return evolveSidecar(cur, newFields)
    withSidecarLock {
      val (m, h) = columnMap
      val phys = sidecarSchemaOpt.getOrElse(
        org.apache.spark.sql.types.StructType(cur.fields))
      val physByName = phys.fields.map(f => f.name -> f).toMap
      val physToLog = m.map(_.swap)
      // the fresh sidecar's LOGICAL view — concurrent evolutions fold in
      val logByName = phys.fields.filterNot(f => h.contains(f.name))
        .map(f => physToLog.getOrElse(f.name, f.name) -> f).toMap
      var m2 = m
      val toAdd =
        scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.types.StructField]
      newFields.foreach { f =>
        logByName.get(f.name) match {
          case Some(g) =>
            require(g.dataType == f.dataType,
              s"column '${f.name}' was concurrently evolved to type " +
                s"${g.dataType.simpleString}; this mutation carries " +
                s"${f.dataType.simpleString} — no type evolution")
          case None =>
            val used = physByName.keySet ++ h ++ m2.values
            var p = f.name
            while (used.contains(p) || toAdd.exists(_.name == p))
              p = s"${f.name}_r${java.util.UUID.randomUUID().toString.take(8)}"
            toAdd += GraftTable.tagEvolved(
              org.apache.spark.sql.types.StructField(p, f.dataType,
                nullable = true))
            if (p != f.name) m2 += (f.name -> p)
        }
      }
      // MAP FIRST, schema second: a crash (or concurrent reader)
      // between the two writes must never surface a fresh physical
      // slot under its raw name — a dangling map entry over a
      // not-yet-existing physical field is invisible (toLogicalSchema
      // renames only fields present), while the reverse order would
      // expose a phantom `<name>_r<nonce>` column
      if (m2 != m) writeColMap(m2, h)
      if (toAdd.nonEmpty)
        writeSchemaSidecar(org.apache.spark.sql.types.StructType(
          phys.fields ++ toAdd))
      toLogicalSchema(org.apache.spark.sql.types.StructType(
        phys.fields ++ toAdd))
    }
  }

  /** A table exists when its creation COMMITTED. `createIfNotExists`
    * writes the schema sidecar last, so the sidecar is the commit
    * marker; for externally-written tables (no sidecar) probe for
    * parquet data or a `_SUCCESS` marker anywhere under the root — a
    * bare directory left behind by a crashed write is NOT a table (it
    * would otherwise suppress the re-import forever).
    */
  def exists: Boolean =
    java.nio.file.Files.exists(schemaSidecar) || {
      def probe(f: java.io.File): Boolean = {
        val kids = Option(f.listFiles()).getOrElse(Array.empty[java.io.File])
        kids.exists(k => k.isFile &&
          (k.getName.endsWith(".parquet") || k.getName == "_SUCCESS")) ||
          kids.exists(k => k.isDirectory && !k.getName.startsWith("_") && probe(k))
      }
      probe(new java.io.File(path))
    }

  def read: DataFrame = {
    val v = currentVersion
    if (v > 0L) readAt(v)
    else if (java.nio.file.Files.exists(schemaSidecar)) {
      val schema = org.apache.spark.sql.types.DataType
        .fromJson(java.nio.file.Files.readString(schemaSidecar))
        .asInstanceOf[org.apache.spark.sql.types.StructType]
      renameToLogical(spark.read.schema(schema).parquet(path))
    } else spark.read.parquet(path)
  }

  /** Append rows for partitions not yet present (U2 import-once): the
    * existence check reads the manifest's partition list, not the data,
    * and the write appends only the new partitions. Null-safe on the
    * partition value — rows of the Hive default (null) partition import
    * once like any other.
    */
  def importOnce(incoming: DataFrame): this.type = {
    val base = ensureBaselineVersion()
    // re-imports legitimately carry identity values (exported rows)
    val inc = conform(incoming, insertShaped = false)
    // the manifest lists the live partitions; coalesce makes the test
    // null-safe (a null partition imports exactly when none is live).
    // The rebalance lands each new partition in one file (size-bounded
    // splits for a hot one) whatever the incoming frame's partitioning
    val fresh = inc.filter(!coalesce(partitionIn(liveValsAt(base)), lit(false)))
      .hint("rebalance", col(partitionCol))
    // partitionScoped: the logical read was "do MY partitions exist" —
    // an interleaved commit not touching them cannot change the answer
    commitRewrite(fresh, Nil, base, partitionScoped = true)
  }

  /** Key-level upsert-REPLACE (K4): merge updates into the stored table,
    * rewriting ONLY the partitions where an update row is new or differs
    * from its stored row (untouched day directories are never read or
    * written; an upsert that changes no row commits no version). The
    * partition handling is NULL-SAFE — upserting into the Hive default
    * (null) partition rewrites that partition's existing rows rather
    * than dropping them when the manifest swaps its files.
    */
  def upsertReplace(updates: DataFrame, tiebreak: Seq[String] = Nil): this.type =
    doUpsertReplace(updates, tiebreak, Nil)

  private def doUpsertReplace(updates: DataFrame, tiebreak: Seq[String],
                              markers: Seq[String]): this.type = {
    val base = ensureBaselineVersion()
    // staged once for the changed-row test and the merge
    val (staged, touched) = stagePartitions(
      conform(updates, insertShaped = false), "upsert_source") // updates carry ids
    try {
      val up = staged.df
      val changed = changedPartitions(up, touched, base)
      // partitionScoped: this mutation reads exactly the partitions it
      // rewrites — losers against disjoint-partition winners re-commit
      // their files instead of re-running the merge. A skipped touched
      // partition is a no-op at read time, so a commit interleaving into
      // it serializes after this one. No change: only a #txn: marker.
      if (changed.isEmpty) commitFiles(Nil, Nil, base, markers, partitionScoped = true)
      else rewriteTouched(base, changed, markers, partitionScoped = true) { current =>
        val upChanged = if (changed.size == touched.size) up else inPartitions(up, changed)
        KeyedTable.upsertReplace(current.withColumn("__v", lit(1)),
          upChanged.withColumn("__v", lit(2)), keys, "__v", tiebreak).drop("__v")
      }
    } finally staged.delete()
  }

  /** Latest batch id committed by writer `appId` (-1 = none) — the
    * idempotency read for exactly-once streaming sinks.
    */
  def txnVersion(appId: String): Long =
    txnState(currentVersion).getOrElse(b64e(appId), -1L)

  /** IDEMPOTENT keyed upsert for exactly-once streaming sinks (the
    * Delta `txn`-action discipline): applies `updates` as an
    * [[upsertReplace]] and records (appId, batchId) ATOMICALLY with the
    * commit — in the same manifest, so no crash window can apply a
    * batch without recording it or vice versa. A batch at or below the
    * recorded id is skipped (returns false): a `foreachBatch` sink that
    * calls this replays safely after any failure/restart, turning
    * Structured Streaming's at-least-once batch delivery into
    * exactly-once table updates. Full checkpoints and vacuum carry the
    * txn state forward; OCC retries re-read it, so a raced replay still
    * skips.
    */
  def upsertReplaceBatch(appId: String, batchId: Long, updates: DataFrame,
                         tiebreak: Seq[String] = Nil): Boolean = {
    val base = ensureBaselineVersion()
    if (batchId <= txnState(base).getOrElse(b64e(appId), -1L)) return false
    doUpsertReplace(updates, tiebreak, Seq(s"#txn:${b64e(appId)}:$batchId"))
    true
  }

  /** Plain APPEND — the SQL `INSERT INTO` semantics: rows land as new
    * files in one atomic commit with NO key matching (duplicate keys
    * are the caller's concern, as in Delta); schema-evolves/conforms
    * like every mutation, CHECK constraints enforced. Untouched
    * partitions never read.
    */
  def append(rows: DataFrame): this.type = {
    // blind append: EMPTY read-set — a lost OCC race always re-commits
    // the already-written files against the new head, so concurrent
    // INSERTs never spuriously conflict (the Delta append discipline).
    // EXCEPT identity tables: the allocation read the table's extremum
    // (a REAL read-set), so a lost race re-enters the whole mutation
    // here — the retry re-runs conform, which re-reads the high
    // watermark against the winner's state, so the loser's re-allocated
    // block can never collide with the block the winner landed
    if (!hasIdentityColumns) {
      val base = ensureBaselineVersion()
      commitRewrite(conform(rows), Seq.empty, base, blindRetry = true)
    } else GraftTable.retryOnConflict() {
      val base = ensureBaselineVersion()
      commitRewrite(conform(rows), Seq.empty, base)
    }
  }

  /** IDEMPOTENT [[append]] for exactly-once streaming ingestion — the
    * [[upsertReplaceBatch]] discipline on the INSERT path: the
    * `(appId, batchId)` txn marker commits ATOMICALLY with the
    * append's manifest, and a batch at or below the recorded id skips
    * (returns false). This is what makes the native
    * `writeStream.toTable` epoch commit exactly-once under Structured
    * Streaming's at-least-once epoch redelivery
    * ([[org.apache.spark.sql.graft.GraftStreamingWrite]]).
    */
  def appendBatch(appId: String, batchId: Long, rows: DataFrame): Boolean = {
    val base = ensureBaselineVersion()
    if (batchId <= txnState(base).getOrElse(b64e(appId), -1L)) return false
    // NO blind retry: the txnState probe above IS a read, so a lost OCC
    // race must RE-ENTER the whole mutation (the winner may have been a
    // replay of THIS very epoch — a zombie instance of the same query).
    // Conflicts propagate like mergeBatch/upsertReplaceBatch; callers
    // wrap in [[GraftTable.retryOnConflict]], whose re-entry re-reads
    // the txn state and skips if the epoch landed.
    commitRewrite(conform(rows), Seq.empty, base,
      markers = Seq(s"#txn:${b64e(appId)}:$batchId"))
    true
  }

  /** Full-table OVERWRITE — the SQL `INSERT OVERWRITE` semantics:
    * every currently-live partition's files leave the manifest and the
    * new rows land, in ONE atomic commit; the old state stays
    * time-travelable. The dropped-partition set comes from the
    * manifest's directory names (metadata-only — bounded by the
    * partition count, no data read).
    */
  def overwriteAll(rows: DataFrame): this.type = {
    val base = ensureBaselineVersion()
    val df = conform(rows)
    commitRewrite(df, (liveValsAt(base) ++ partitionsOf(df)).distinct, base)
  }

  /** DYNAMIC PARTITION OVERWRITE — the SQL `INSERT OVERWRITE` in
    * `partitionOverwriteMode=dynamic` (and the Scala twin): every
    * partition the new rows TOUCH is replaced wholesale, untouched
    * partitions are never read or written, all in ONE atomic commit
    * with history intact. The per-day re-import shape: re-landing one
    * day's corrected extract replaces that day only, at any table
    * size. Partition-scoped OCC: losers against disjoint-partition
    * winners re-commit their files without re-running anything.
    */
  def overwritePartitions(rows: DataFrame): this.type = {
    val base = ensureBaselineVersion()
    val df = conform(rows)
    commitRewrite(df, partitionsOf(df), base, partitionScoped = true)
  }

  /** STATIC partition overwrite — `INSERT OVERWRITE t PARTITION
    * (p = v) SELECT …`: replaces exactly the partitions named by
    * `vals` (string-rendered partition values; None = the null
    * partition) with `rows`. Every incoming row must fall inside the
    * target partitions (the Delta `replaceWhere` validation — a
    * mis-routed row rejects the whole statement BEFORE anything
    * lands); partitions in `vals` with no incoming rows simply drop.
    */
  def overwritePartitionValues(vals: Seq[Option[String]],
                               rows: DataFrame): this.type = {
    val base = ensureBaselineVersion()
    val df = conform(rows)
    val target = vals.toSet
    val outside = partitionsOf(df).filterNot(target)
    require(outside.isEmpty,
      s"INSERT OVERWRITE PARTITION on $path: ${outside.size} incoming " +
        s"partition value(s) fall outside the target " +
        s"(${outside.take(3).map(_.getOrElse("null")).mkString(", ")}…) — " +
        "rows must match the static partition spec")
    commitRewrite(df, vals.distinct, base, partitionScoped = true)
  }

  /** Predicate DELETE by PARTITION REWRITE — the SQL `DELETE FROM`
    * semantics without deletion vectors: rows where `cond` is TRUE are
    * removed (null/unknown keeps, ANSI), only partitions holding a
    * matching row rewrite. The physical-rewrite alternative to
    * [[deleteWhere]] (O(matched-rows) DV commits — since round 9 the
    * default for selective SQL `DELETE FROM` too, because the SQL scan
    * serves vectors in-flight): a rewrite pays partition-sized I/O now
    * but leaves no vectors behind, so it suits whole-table/whole-
    * partition deletes and callers who want the columnar read path
    * back immediately instead of after compaction.
    */
  def deleteWhereRewrite(cond: org.apache.spark.sql.Column): this.type = {
    val base = ensureBaselineVersion()
    val matched = coalesce(cond, lit(false))
    // touched-partition discovery over CANDIDATE files only (zone-map/
    // Bloom pruned when the predicate allows); the rewrite itself still
    // reads every row of the touched partitions, as it must
    val discover = PredicatePruning.mutationCandidates(this, cond,
      readAt(base), manifestFiles(base), base)
    val touched = partitionsOf(readResolved(discover, base).filter(matched))
    // touched drives the manifest drop: a fully-deleted partition
    // contributes no surviving rows, so it cannot come from the rewrite
    if (touched.isEmpty) this // no match — no commit
    else rewriteTouched(base, touched)(_.filter(!matched))
  }

  /** Predicate UPDATE (the ANSI `UPDATE t SET c = e WHERE p`
    * statement): rows matching `cond` take their assigned expressions
    * (over bare target column names), every other row — and every
    * untouched PARTITION'S files — stays byte-for-byte. Assigning the
    * partition column moves matching rows to their new partition (the
    * [[merge]] partition-move discipline). No match → no commit, like
    * [[deleteWhereRewrite]]. SQL-reachable as `UPDATE cat.db.t SET …`
    * through [[org.apache.spark.sql.graft.GraftRowLevelSql]].
    */
  def updateWhere(cond: org.apache.spark.sql.Column,
                  set: Map[String, org.apache.spark.sql.Column]): this.type =
    updateWhereIn(cond, set, Nil)

  /** [[updateWhere]] with additional subquery MEMBERSHIP constraints,
    * like [[deleteWhereIn]]: a row takes its assignments when `cond`
    * holds AND every [[GraftTable.Membership]] qualifies it — the
    * `UPDATE t SET … WHERE … AND c IN / NOT IN (SELECT …)` / `[NOT]
    * EXISTS` statements, correlated or not. Qualification evaluates as
    * 1:1 marker joins against DISTINCT subquery projections (a
    * duplicated subquery value must not duplicate target rows);
    * discovery semi/anti-joins the same frames so only partitions
    * holding a fully-qualified row rewrite. NOT IN keeps SQL
    * three-valued semantics (see [[Membership]]).
    */
  def updateWhereIn(cond: org.apache.spark.sql.Column,
                    set: Map[String, org.apache.spark.sql.Column],
                    memberships: Seq[GraftTable.Membership]): this.type = {
    require(set.nonEmpty, "updateWhere needs at least one assignment")
    val base = ensureBaselineVersion()
    val tgt = readAt(base)
    val typeOf = tgt.schema.fields.map(f => f.name -> f.dataType).toMap
    val bad = set.keys.filterNot(typeOf.contains)
    require(bad.isEmpty,
      s"updateWhere assigns columns not in the table: ${bad.mkString(", ")}")
    memberships.flatMap(_.pairs).foreach { case (c, _) =>
      require(typeOf.contains(c),
        s"updateWhereIn constrains a column not in the table: $c")
    }
    if (memberships.nonEmpty) guardMembershipNames("updateWhereIn", base)
    val matched = coalesce(cond, lit(false))
    // touched-partition discovery through the skipping indexes, like
    // [[deleteWhereRewrite]] — an UPDATE on a stats-tracked column
    // reads candidate files only to find its partitions
    val discover = PredicatePruning.mutationCandidates(this, cond,
      tgt, manifestFiles(base), base)
    val probe = memberships
      .foldLeft(readResolved(discover, base).filter(matched))(membershipFilter)
    val touched = partitionsOf(probe)
    if (touched.isEmpty) return this // no match — no commit
    rewriteTouched(base, touched) { current0 =>
      val (current, qualified) = memberships.zipWithIndex
        .foldLeft((current0, matched)) { case ((cur, m), (mem, i)) =>
          val (cur2, qual) = membershipMark(cur, mem, i)
          (cur2, m && qual)
        }
      // the select below projects exactly tgt's columns — membership
      // markers drop with it
      val updated = current.select(tgt.columns.toSeq.map { c =>
        set.get(c).map(e => when(qualified, e.cast(typeOf(c))).otherwise(col(c)))
          .getOrElse(col(c)).as(c)
      }: _*)
      // synthetic tables re-derive __gp: assigning a partition-source
      // column moves the row. An UPDATE that never assigns an identity
      // column re-lands stored (filled) values only — skip the
      // watermark read (mayAllocate = false)
      deriveGp(respecs(updated,
        mayAllocate = identityColumnNames.exists(set.contains)))
    }
  }

  /** Insert-if-absent (K8): append only rows whose key is not yet
    * present — never reads back or rewrites existing files, so it is
    * cheap and idempotent at any scale (reference `server/etl.py:148-149`).
    */
  def insertIfAbsent(inserts: DataFrame): this.type = {
    val base = ensureBaselineVersion()
    // keyed insert-if-absent: the caller PROVIDES the key by contract,
    // which on an identity-keyed table means providing the id
    val ins = conform(inserts, insertShaped = false)
    // no distinct on the stored keys: an anti join is insensitive to
    // build-side duplicates, so a dedup would only add an exchange
    val fresh = ins.join(readAt(base).select(keys.map(col).toSeq: _*),
      keys, "left_anti")
    commitRewrite(fresh, Nil, base)
  }

  /** Key-level upsert-MERGE (K3, non-default columns win). Null-safe on
    * the touched-partition value, like [[upsertReplace]].
    */
  def upsertMerge(updates: DataFrame, defaults: Map[String, Any]): this.type = {
    val base = ensureBaselineVersion()
    val (staged, touched) = stagePartitions(
      conform(updates, insertShaped = false), "upsert_source") // updates carry ids
    try rewriteTouched(base, touched, partitionScoped = true)(
      KeyedTable.upsertMerge(_, staged.df, keys, defaults))
    finally staged.delete()
  }

  /** General MERGE INTO (the ANSI / Delta `MERGE` statement — the one
    * mutation the specialized paths ([[upsertReplace]], [[upsertMerge]],
    * [[insertIfAbsent]], [[deleteByKeys]]) cannot compose: conditional
    * update/delete/insert in ONE atomic commit):
    *
    * {{{
    *   t.merge(source,
    *     matched = Seq(
    *       MatchedDelete(src("op") === "del"),
    *       MatchedUpdate(src("cents") > col("cents"),
    *         Map("cents" -> src("cents")))),
    *     notMatchedInsert = Some((src("op") =!= "del",
    *       Map("event_id" -> src("event_id"), ...))))
    * }}}
    *
    *   - ON is key equality (the table's `keys`; SQL semantics — null
    *     keys never match, a null-key source row is "not matched"),
    *     optionally AND `onResidual` (the ANSI composite ON): a
    *     key-matched pair failing the residual is NOT matched — ANSI
    *     classification — so its target row is a `notMatchedBySource`
    *     candidate and its source row an insert candidate. A residual
    *     plus an unconditional insert can therefore land a source row
    *     NEXT TO its residual-failing target row (duplicate keys, by
    *     the user's explicit choice — exactly Delta's behavior);
    *     keep the keyed one-row-per-key discipline by conditioning
    *     the insert or not writing residual ONs against keyed tables.
    *   - `matched` clauses evaluate IN ORDER per matched target row;
    *     the first whose condition holds fires (update applies its
    *     assignments, delete drops the row); no hit → row unchanged.
    *     Conditions/assignments see target columns by bare name and
    *     source columns via [[GraftTable.src]].
    *   - `notMatchedInsert` inserts source rows matching no target key
    *     whose condition holds; unassigned table columns pad typed
    *     null. Assignments may only use [[GraftTable.src]] names.
    *   - `notMatchedBySource` clauses (ANSI WHEN NOT MATCHED BY SOURCE)
    *     evaluate IN ORDER on target rows NO source key matches;
    *     conditions and assignments may reference TARGET columns only
    *     (the ANSI restriction — [[GraftTable.src]] values are null on
    *     this side). Only partitions holding a claimed row rewrite.
    *   - The source must be key-UNIQUE (one source row per target row
    *     — Delta's multiple-match error, checked up front), so the
    *     merge is deterministic under any partitioning.
    *
    * Scale shape: only partitions holding a MATCHED key rewrite
    * (untouched partitions are never read); the not-matched anti-join
    * scans the table's key columns only (column-pruned, the
    * [[insertIfAbsent]] discipline); an update assigning the partition
    * column moves the row — it lands as an append to its new
    * partition, the old partition rewrites without it. Atomic + OCC
    * like every mutation: one manifest commit, losers clean up.
    */
  def merge(source: DataFrame, matched: Seq[GraftTable.MatchedClause],
            notMatchedInsert: Option[(org.apache.spark.sql.Column,
                                      Map[String, org.apache.spark.sql.Column])] = None,
            allowSchemaEvolution: Boolean = false,
            notMatchedBySource: Seq[GraftTable.MatchedClause] = Nil,
            onResidual: Option[org.apache.spark.sql.Column] = None,
            sourceKeyUnique: Boolean = false): this.type = {
    doMerge(source, matched, notMatchedInsert, allowSchemaEvolution, Nil,
      notMatchedBySource, onResidual, sourceKeyUnique = sourceKeyUnique)
    this
  }

  /** IDEMPOTENT [[merge]] for exactly-once streaming CDC apply — the
    * [[upsertReplaceBatch]] discipline generalized to the full MERGE
    * statement: (appId, batchId) commits atomically with the merge's
    * manifest (`#txn:` marker), a batch at or below the recorded id
    * skips (returns false), so a `foreachBatch` sink that applies
    * change batches as conditional upsert/delete/insert survives
    * at-least-once redelivery with exactly-once table effects.
    */
  def mergeBatch(appId: String, batchId: Long, source: DataFrame,
                 matched: Seq[GraftTable.MatchedClause],
                 notMatchedInsert: Option[(org.apache.spark.sql.Column,
                                           Map[String, org.apache.spark.sql.Column])] = None,
                 allowSchemaEvolution: Boolean = false,
                 notMatchedBySource: Seq[GraftTable.MatchedClause] = Nil,
                 onResidual: Option[org.apache.spark.sql.Column] = None,
                 expectedLastBatch: Option[Long] = None,
                 reapplyEqualBatch: Boolean = false,
                 sourceKeyUnique: Boolean = false): Boolean =
    // the replay check (and the optional anchor pin) live INSIDE doMerge
    // against the SAME baseline the OCC commit is anchored to — a racing
    // commit between check and commit surfaces as CommitConflictException
    // and the retry re-evaluates both at the winner's version.
    // reapplyEqualBatch relaxes the replay skip for batchId == recorded
    // ONLY — for IDEMPOTENT merges (full-sync SET) that must re-commit
    // at an unchanged anchor (an mview full recompute driven by a DIM
    // change, where the fact version did not move); batches BELOW the
    // recorded id still skip
    doMerge(source, matched, notMatchedInsert, allowSchemaEvolution,
      Seq(s"#txn:${b64e(appId)}:$batchId"), notMatchedBySource, onResidual,
      txn = Some((appId, batchId, expectedLastBatch, reapplyEqualBatch)),
      sourceKeyUnique = sourceKeyUnique)

  /** Returns whether the merge APPLIED (always true without `txn`; a
    * txn batch at or below the recorded id skips with false).
    */
  private def doMerge(source: DataFrame, matched: Seq[GraftTable.MatchedClause],
                      notMatchedInsert: Option[(org.apache.spark.sql.Column,
                                                Map[String, org.apache.spark.sql.Column])],
                      allowSchemaEvolution: Boolean,
                      markers: Seq[String],
                      notMatchedBySource: Seq[GraftTable.MatchedClause] = Nil,
                      onResidual: Option[org.apache.spark.sql.Column] = None,
                      txn: Option[(String, Long, Option[Long], Boolean)] = None,
                      sourceKeyUnique: Boolean = false)
      : Boolean = {
    import GraftTable.{MatchedDelete, MatchedUpdate}
    require(matched.nonEmpty || notMatchedInsert.nonEmpty ||
      notMatchedBySource.nonEmpty, "merge needs at least one clause")
    // by-source clauses may reference TARGET columns only (ANSI): a
    // src() reference in a CONDITION fails to resolve on the bare
    // target frame (loud), but in an ASSIGNMENT it would silently
    // evaluate to null on the not-matched join side — reject up front
    notMatchedBySource.foreach { cl =>
      val exprs = cl match {
        case MatchedUpdate(c, set) => c +: set.values.toSeq
        case MatchedDelete(c)      => Seq(c)
      }
      val srcRefs = exprs.flatMap(c =>
        org.apache.spark.sql.graft.Bridge.attrNames(c, _.startsWith("__s_")))
        .distinct
      require(srcRefs.isEmpty,
        "notMatchedBySource clauses may reference TARGET columns only " +
          s"(ANSI) — found source references: ${srcRefs.mkString(", ")}")
    }
    val base = ensureBaselineVersion()
    txn.foreach { case (appId, batchId, expectedLast, reapplyEqual) =>
      val recorded = txnState(base).getOrElse(b64e(appId), -1L)
      // a batch at or below the recorded id is a replay — skip (an
      // EQUAL batch re-applies only when the caller declared the merge
      // idempotent via reapplyEqualBatch)
      if (batchId < recorded || (batchId == recorded && !reapplyEqual))
        return false
      // a caller that computed its batch FROM a specific anchor aborts
      // when another writer advanced it meanwhile (applying would
      // double-count the overlap); recorded is read at `base`, the same
      // version the commit below is OCC-anchored to, so an interleaving
      // advance surfaces as CommitConflictException and re-enters here
      expectedLast.foreach { exp =>
        if (recorded != exp) throw new StaleTxnAnchorException(
          s"txn anchor for '$appId' is at $recorded, expected $exp — a " +
            "concurrent batch advanced it; recompute from the new anchor")
      }
    }
    val tgt = readAt(base)
    val typeOf0 = tgt.schema.fields.map(f => f.name -> f.dataType).toMap
    val assignments = (matched.collect { case MatchedUpdate(_, set) => set.toSeq }
      .flatten ++ notMatchedBySource.collect { case MatchedUpdate(_, set) => set.toSeq }
      .flatten ++ notMatchedInsert.toSeq.flatMap(_._2.toSeq))
    val badAssign = assignments.map(_._1).distinct.filterNot(typeOf0.contains)
    require(badAssign.isEmpty || allowSchemaEvolution,
      s"merge assigns columns not in the table: ${badAssign.mkString(", ")} " +
        "(pass allowSchemaEvolution = true to evolve)")
    require(keys.forall(source.columns.contains),
      s"merge source must carry the key columns ${keys.mkString(", ")}")

    val sPref = source.select(
      source.columns.toSeq.map(c => col(c).as(s"__s_$c")): _*)
      .localCheckpoint(true) // consumed 3-5× (dup guard, touched probes,
                             // matched join, insert anti)
    // a source row with ANY null key can never match a target row (SQL
    // null-key semantics) — it is a legitimate not-matched insert
    // candidate, so it is EXCLUDED from the multiple-match guard (the
    // ANSI/Delta rule only forbids two source rows matching the same
    // target row).
    //
    // The guard costs one full shuffle of the source per merge — skip
    // it when uniqueness holds BY CONSTRUCTION: a source whose plan is
    // an Aggregate grouped by (a subset of) the merge keys emits at
    // most one row per key combination (distinct grouping values imply
    // distinct keys), so the guard can never fire. This is the mview
    // fold shape (delta = groupBy(keys).agg(...)) — every refresh was
    // paying a provably-redundant aggregate of its delta.
    //
    // `sourceKeyUnique` is the CALLER-asserted version of the same fact
    // for sources whose uniqueness the plan cannot show (a CDC change
    // feed deduped to one op per key upstream, arriving as a plain
    // file-stream micro-batch) — the Iceberg
    // `merge.cardinality-check.enabled=false` escape hatch. The caller
    // owns the invariant; a false assertion trades the loud
    // multiple-match error for ANSI-undefined duplicate-match results,
    // exactly as on those engines.
    val provablyKeyUnique = sourceKeyUnique || {
      import org.apache.spark.sql.catalyst.expressions.Attribute
      import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, SubqueryAlias}
      def strip(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
          : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = p match {
        case s: SubqueryAlias => strip(s.child)
        case other => other
      }
      strip(source.queryExecution.analyzed) match {
        case a: Aggregate if a.groupingExpressions.nonEmpty =>
          a.groupingExpressions.forall {
            case attr: Attribute => keys.exists(_.equalsIgnoreCase(attr.name))
            case _ => false
          }
        case _ => false
      }
    }
    val dup = if (provablyKeyUnique) 0L else sPref
      .filter(keys.map(k => col(s"__s_$k").isNotNull).reduce(_ && _))
      .groupBy(keys.map(k => col(s"__s_$k")): _*)
      .count().filter(col("count") > 1).limit(1).count()
    require(dup == 0L,
      "merge source has duplicate keys — one source row may match a " +
        "target row (the ANSI/Delta multiple-match error); de-duplicate first")

    // MATCHED = key equality AND (when present) the composite-ON
    // residual — ANSI/Delta classification: a key-matched pair failing
    // the residual is NOT matched (its target row is a by-source
    // candidate, its source row an insert candidate). The residual
    // references target columns by bare name and source columns via
    // src(); coalesce keeps the join condition null-safe.
    val keyEqPair = keys.map(k => col(k) === col(s"__s_$k")).reduce(_ && _)
    val matchCond = onResidual match {
      case Some(r) => keyEqPair && coalesce(r, lit(false))
      case None => keyEqPair
    }

    // partitions holding a MATCHED row rewrite; everything else is
    // untouched (clause-less matched side: nothing can change, so no
    // partition rewrites — an insert-only merge is a pure append).
    // WHEN NOT MATCHED BY SOURCE widens the touched set to partitions
    // holding an UNMATCHED row some by-source clause claims — the
    // clause conditions reference target columns only (ANSI), so they
    // evaluate on the bare target frame. Residual-free merges probe the
    // DISTINCT KEY frame (column-pruned); a residual probes the full
    // source frame, since it may reference any source column.
    // no distinct on the key projection: the guard (or the caller's
    // assertion) already established key uniqueness, and the touched
    // probes below are semi/anti joins — insensitive to build-side
    // duplicates either way
    val matchedKeys = sPref.select(keys.map(k => col(s"__s_$k").as(k)): _*)
    def semiMatched(frame: DataFrame, joinType: String): DataFrame =
      onResidual match {
        case None => frame.join(matchedKeys, keys.toSeq, joinType)
        case Some(_) => frame.join(sPref, matchCond, joinType)
      }
    val matchedTouched =
      (if (matched.isEmpty) tgt.limit(0) else semiMatched(tgt, "left_semi"))
        .select(col(partitionCol))
    val nmbsTouched =
      if (notMatchedBySource.isEmpty) tgt.limit(0).select(col(partitionCol))
      else {
        val anyCond = notMatchedBySource.map {
          case MatchedUpdate(c, _) => c
          case MatchedDelete(c)    => c
        }.map(c => coalesce(c, lit(false))).reduce(_ || _)
        semiMatched(tgt, "left_anti").filter(anyCond)
          .select(col(partitionCol))
      }
    // touched partitions, learned BEFORE the rewrite: the rewrite reads
    // exactly their files ([[readPartitions]])
    val touchedVals = partitionsOf(matchedTouched.union(nmbsTouched))
    val current = readPartitions(base, touchedVals)

    // a residual-failing pair surfaces here as an UNMATCHED target row
    // (null source side) — by-source clauses see it, matched ones don't
    val joined = current.join(sPref, matchCond, "left")

    // SCHEMA EVOLUTION (opt-in): unknown assigned columns append
    // nullable, typed by resolving their FIRST assignment expression
    // against the joined frame; existing rows and files project null
    val newFields = badAssign.map { c =>
      val e = assignments.find(_._1 == c).get._2
      org.apache.spark.sql.types.StructField(c,
        joined.select(e.as(c)).schema.head.dataType, nullable = true)
    }
    if (newFields.nonEmpty)
      evolveLogical(org.apache.spark.sql.types.StructType(tgt.schema.fields),
        newFields)
    val tableCols = tgt.columns.toSeq ++ badAssign
    val typeOf = typeOf0 ++ newFields.map(f => f.name -> f.dataType)
    val isNew = badAssign.toSet

    // matched ⇒ the join equality held ⇒ every __s_ key is non-null.
    // The clause ladder is ONE ordered list: matched clauses guard on
    // isMatched, not-matched-by-source clauses on !isMatched — disjoint
    // row sets, so each family keeps its own ANSI first-hit-wins order.
    val isMatched = col(s"__s_${keys.head}").isNotNull
    val allClauses = matched.map((_, true)) ++ notMatchedBySource.map((_, false))
    val action = allClauses.zipWithIndex.foldLeft(
      when(lit(false), lit(-1))) { case (acc, ((cl, onMatch), i)) =>
      val c = cl match {
        case MatchedUpdate(c0, _) => c0
        case MatchedDelete(c0)    => c0
      }
      val guard = if (onMatch) isMatched else !isMatched
      acc.when(guard && coalesce(c, lit(false)), lit(i))
    }.otherwise(lit(-1))
    val acted = joined.withColumn("__act", action)
    val deleteIdx = allClauses.zipWithIndex.collect {
      case ((MatchedDelete(_), _), i) => i
    }
    val kept =
      if (deleteIdx.isEmpty) acted
      else acted.filter(!col("__act").isin(deleteIdx: _*))
    val updates = allClauses.zipWithIndex.collect {
      case ((MatchedUpdate(_, set), _), i) => (i, set)
    }
    val survivors = kept.select(tableCols.map { c =>
      val keepVal = if (isNew(c)) lit(null).cast(typeOf(c)) else col(c)
      updates.filter(_._2.contains(c)).foldLeft(when(lit(false), lit(null))) {
        case (acc, (i, set)) => acc.when(col("__act") === i, set(c).cast(typeOf(c)))
      }.otherwise(keepVal).as(c)
    }: _*)

    val written = notMatchedInsert match {
      case None => survivors
      case Some((cond, set)) =>
        val unmatched = onResidual match {
          case None =>
            // key-column-only scan of the whole table — the
            // insertIfAbsent shape. No distinct: an anti join is
            // insensitive to build-side duplicates, so the dedup
            // aggregate over the whole table's keys was pure overhead
            val tgtKeys = tgt.select(keys.map(k => col(k).as(s"__s_$k")): _*)
            sPref.join(tgtKeys, keys.map(k => s"__s_$k").toSeq, "left_anti")
          case Some(r) =>
            // ANSI: a source row whose key match FAILS the residual is an
            // insert candidate. The anti-join probes the target pruned to
            // keys + the residual's target columns (still the
            // column-pruned insertIfAbsent shape). NOTE the documented
            // consequence (same as Delta): such an insert lands NEXT TO
            // the residual-failing target row — a residual plus an
            // unconditional INSERT can produce duplicate keys, by the
            // user's explicit choice.
            val refs = (keys ++ org.apache.spark.sql.graft.Bridge
              .attrNames(r, !_.startsWith("__s_"))).distinct
              .filter(tgt.columns.contains)
            sPref.join(tgt.select(refs.map(col): _*), matchCond, "left_anti")
        }
        val ins = unmatched
          .filter(coalesce(cond, lit(false)))
          .select(tableCols.map { c =>
            set.get(c).map(_.cast(typeOf(c)))
              .getOrElse(lit(null).cast(typeOf(c))).as(c)
          }: _*)
        survivors.unionByName(ins)
    }
    // synthetic tables re-derive __gp over the final frame: inserts pad
    // it null, and a clause assigning a partition-source column must
    // MOVE the row (the partition-moving-update discipline). A merge
    // with no insert clause and no identity assignment re-lands stored
    // (filled) identity values only — skip the watermark read
    val mergeMayAllocate = notMatchedInsert.nonEmpty ||
      identityColumnNames.exists(c => assignments.exists(_._1 == c))
    commitRewrite(deriveGp(respecs(written, mayAllocate = mergeMayAllocate)),
      touchedVals, base, markers)
    true
  }

  /** Keyed DELETE (K5): anti-join rewrite of only the partitions holding
    * a matching key, as a new version (no match, no version). An emptied
    * partition contributes no files to the manifest and stays readable
    * via [[readAt]]. The keys are read by the probe and the rewrite and
    * not staged: the rewrite reads only the probed partitions, so no
    * evaluation of the keys can remove a row elsewhere.
    */
  def deleteByKeys(deleteKeys: DataFrame): this.type = {
    val base = ensureBaselineVersion()
    val touched = partitionsOf(readAt(base).join(deleteKeys, keys, "left_semi"))
    if (touched.isEmpty) this // no match — no commit
    else rewriteTouched(base, touched)(KeyedTable.deleteByKeys(_, deleteKeys, keys))
  }

  /** COMPACTION — the small-files maintenance pass every incrementally
    * upserted table eventually needs (each upsert tick rewrites touched
    * partitions with the session's task parallelism, so a long-lived
    * table accumulates many small files per partition): hash-cluster
    * the whole table on the partition column so every partition
    * directory rewrites as ONE file (all rows of a partition key land
    * in one task). CONTENT-INVARIANT by construction — the rewrite
    * reads one version and replaces every live partition of it; only
    * the file layout changes (q184 hash-checks the content,
    * the spec checks the file-count collapse). At scale this is the
    * per-partition OPTIMIZE job; `parallelism` bounds the rewrite's
    * task width.
    */
  def compact(parallelism: Int = 16): this.type = compact(parallelism, Nil)

  /** [[compact]] with intra-file CLUSTERING: each partition's rewritten
    * file is sorted by `clusterBy`, so parquet row-group min/max stats
    * become selective on those columns and a later filtered scan skips
    * row groups — the OPTIMIZE ... ZORDER intent (single-column sort
    * here; compose [[Layout.zValue]] into a column for multi-dim).
    * Content-invariant like the plain compaction: only the physical
    * order inside files changes.
    */
  def compact(parallelism: Int, clusterBy: Seq[String]): this.type = {
    require(parallelism >= 1, s"parallelism must be >= 1, got $parallelism")
    val base = ensureBaselineVersion()
    rewriteAll(readAt(base).repartition(parallelism, col(partitionCol)),
      base, clusterBy)
  }

  /** Replace every live partition of `base` with `df`'s rows, sorted per
    * task on (partitionCol, clusterBy...) — the writer's own required
    * ordering as a prefix, so the sort survives into the files.
    */
  private def rewriteAll(df: DataFrame, base: Long, clusterBy: Seq[String]): this.type =
    commitRewrite(
      if (clusterBy.isEmpty) df
      else df.sortWithinPartitions((partitionCol +: clusterBy).map(col): _*),
      liveValsAt(base), base)

  /** The partition values with live files at version `v` (metadata only). */
  private def liveValsAt(v: Long): Seq[Option[String]] =
    manifestFiles(v).map(parentDir).distinct.map(partitionValueOf)

  /** RANGE-CLUSTERING compaction — the `OPTIMIZE` shape that makes
    * FILE-LEVEL zone maps selective (plain [[compact]] collapses each
    * partition to ONE file, so file-level skipping degenerates to
    * partition pruning; this one re-cuts each partition into ~`buckets`
    * range-disjoint files on `rangeBy`): the whole table
    * range-repartitions on (partitionCol, rangeBy...), so every output
    * file holds one partition's contiguous `rangeBy` sub-range, and a
    * later [[readWhereBetween]] on those columns prunes to the files
    * whose range actually intersects. Each file is additionally sorted
    * on `rangeBy` (parquet row-group stats — the third skipping tier).
    * CONTENT-INVARIANT like every compaction: only layout changes
    * (range boundaries come from Spark's range sampler, so exact file
    * cuts may vary between runs — the zone maps adapt, the data never
    * changes).
    */
  def compactRange(buckets: Int, rangeBy: Seq[String]): this.type = {
    require(buckets >= 1, s"buckets must be >= 1, got $buckets")
    require(rangeBy.nonEmpty, "compactRange needs range columns")
    val base = ensureBaselineVersion()
    rewriteAll(readAt(base).repartitionByRange(buckets,
      (partitionCol +: rangeBy).map(col): _*), base, clusterBy = rangeBy)
  }

  /** DV-HEALTH GAUGE: the fraction of live files (current version) a
    * committed deletion vector touches. DV'd files read row-based with
    * no parquet pushdown until their partitions rewrite — transient by
    * design, but nothing else MEASURES it, so this is the knob
    * [[compactDvHeavy]] (and an operator's monitoring) watches. Cost:
    * one small scan of the vector parquets' `file` column, only when
    * vector dirs exist.
    */
  def dvFraction: Double = dvdLiveFiles(currentVersion)._3

  /** (live files, DV'd live files, fraction) at `v` — the one scan
    * [[dvFraction]] and [[compactDvHeavyMeasured]] share.
    */
  private def dvdLiveFiles(v: Long): (Seq[String], Seq[String], Double) = {
    if (v <= 0L) return (Seq.empty, Seq.empty, 0.0)
    val live = manifestFiles(v)
    if (live.isEmpty) return (live, Seq.empty, 0.0)
    val dvs = applicableDvDirs(v)
    if (dvs.isEmpty) return (live, Seq.empty, 0.0)
    val liveSet = live.toSet
    val dvd = readDv(dvs).select("file").distinct().collect()
      .map(_.getString(0)).filter(liveSet.contains) // bounded by DV'd-file count
      .toSeq
    (live, dvd, dvd.size.toDouble / live.size)
  }

  /** MAINTENANCE TRIGGER for DV-heavy tables: when [[dvFraction]]
    * exceeds `maxFraction`, rewrite EXACTLY the partitions holding
    * DV'd files (their resolved content, one commit) — the vectors'
    * files die, the vectors no-op, and the scan plans columnar +
    * filter-pushed again. Partitions without vectors are never read or
    * written, so the cost is proportional to the DV'd data, not the
    * table. A partition whose rows are ALL deleted drops entirely
    * (explicit touched-partition commit, not inferred from the — empty
    * — surviving rows). Returns true when a compaction committed; call
    * it from the same maintenance cadence as vacuum, or after bursts
    * of row-level deletes, so the row-based-scan tax cannot silently
    * become the steady state.
    */
  def compactDvHeavy(maxFraction: Double = 0.1): Boolean =
    compactDvHeavyMeasured(maxFraction)._1

  /** [[compactDvHeavy]] plus the measured pre-compaction
    * [[dvFraction]], from ONE discovery scan (the `CALL
    * graft.system.compact_dv` summary row's source — a separate
    * dvFraction call would re-scan the vector parquets).
    */
  def compactDvHeavyMeasured(maxFraction: Double = 0.1): (Boolean, Double) = {
    require(maxFraction >= 0.0, s"maxFraction must be >= 0, got $maxFraction")
    val base = ensureBaselineVersion()
    val (live, dvdFiles, fraction) = dvdLiveFiles(base)
    if (dvdFiles.isEmpty || fraction <= maxFraction) return (false, fraction)
    val touchedVals = dvdFiles.map(parentDir).distinct.map(partitionValueOf)
    rewriteTouched(base, touchedVals)(identity)
    (true, fraction)
  }

  /** LIVE data file count — the current version's manifest size for a
    * versioned table (historical files don't count; they are storage,
    * not table). Physical walk only for legacy no-log tables.
    * (Diagnostic; used by the compaction spec.)
    */
  def dataFileCount: Int =
    if (currentVersion > 0L) manifestFiles(currentVersion).size
    else listDataFiles().size

  // test seams for the OCC spec: run a rewrite against an EXPLICIT base
  // version, simulating a writer whose read snapshot went stale
  private[operators] def commitRewriteAt(df: DataFrame,
                                         touchedVals: Seq[Option[String]],
                                         base: Long,
                                         partitionScoped: Boolean = false,
                                         blindRetry: Boolean = false): this.type =
    commitRewrite(df, touchedVals, base, partitionScoped = partitionScoped,
      blindRetry = blindRetry)
}
