package org.apache.spark.sql.graft

import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.expressions.{Expressions, Transform}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.execution.datasources.InMemoryFileIndex
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScanBuilder
import org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters
import org.apache.spark.sql.types.{StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.operators.GraftTable

/** DSv2 read path for [[graft.operators.GraftTable]] — the bridge that
  * makes a versioned graft table a first-class SQL citizen:
  *
  *   - the scan IS Spark's own vectorized parquet scan
  *     ([[ParquetScanBuilder]]): partition pruning, column pruning,
  *     parquet row-group pushdown and whole-stage codegen all come from
  *     the engine, not re-implementations;
  *   - the table's OWN metadata tiers ride inside the scan via
  *     [[GraftPrunedFileIndex]]: the file index lists exactly the LIVE
  *     files of the requested version (time travel = a different live
  *     set), and `listFiles` drops files the zone maps / Bloom index
  *     prove irrelevant for the pushed data filters — Delta-style data
  *     skipping expressed as a FileIndex, where every DSv2 file source
  *     already applies it;
  *   - streaming: the same table is a micro-batch source whose offsets
  *     are COMMIT VERSIONS; each batch plans the manifest diff between
  *     two versions (the [[graft.operators.GraftTable.readChangesSince]]
  *     increment) through the same parquet machinery.
  *
  * Deletion vectors are served INSIDE the scan ([[GraftDvBatch]]):
  * files without vectors keep the vectorized filter-pushed read
  * untouched; each DV'd file re-plans as one whole-file row-based read
  * that drops the vector's positions while counting — SQL results are
  * bit-identical to the Scala read API ([[GraftTable.read]]), which
  * resolves vectors via the `_metadata.row_index` anti-join.
  */
object GraftSqlRead {

  /** Pruning observability for plan specs: files surviving / total live
    * files of the LAST listFiles call that applied stats pruning.
    */
  val lastPlannedFiles = new AtomicLong(-1)
  val lastTotalFiles = new AtomicLong(-1)

  /** How many RUNTIME (DPP) restrictions scans have installed — a
    * join-shape probe for specs: nonzero means dynamic pruning reached
    * a graft scan and re-planned it.
    */
  val runtimeFilterEvents = new AtomicLong(0)

  private[graft] def emptyOptions =
    new CaseInsensitiveStringMap(java.util.Collections.emptyMap[String, String]())

  def table(spark: SparkSession, gt: GraftTable, version: Long): Table =
    new GraftSqlTable(spark, gt, version)

  /** Catalyst literal → the external value [[GraftTable]]'s canonical
    * stats comparators accept (UTF8String → String; date/timestamp
    * literals are already canonical days/micros numbers).
    */
  private[graft] def externalValue(l: Literal): Option[Any] = l.value match {
    case null => None
    case u: UTF8String => Some(u.toString)
    case other => Some(other)
  }

  /** V2 `Predicate` → a [[org.apache.spark.sql.Column]] over the
    * table's bare column names — the DELETE FROM translation. None for
    * anything outside the supported subset (comparisons, null tests,
    * IN, AND/OR/NOT, ALWAYS_TRUE/FALSE); the caller then rejects the
    * whole statement rather than half-applying it.
    */
  def predicateColumn(
      p: org.apache.spark.sql.connector.expressions.filter.Predicate)
      : Option[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.connector.expressions.filter.{And => VAnd, Not => VNot, Or => VOr}
    import org.apache.spark.sql.connector.expressions.{Expression => VExpr, NamedReference}
    import org.apache.spark.sql.functions.{col => fcol, lit => flit}
    def operand(e: VExpr): Option[org.apache.spark.sql.Column] = e match {
      case n: NamedReference => Some(fcol(n.fieldNames.mkString(".")))
      case l: org.apache.spark.sql.connector.expressions.Literal[_] =>
        Some(flit(org.apache.spark.sql.catalyst.CatalystTypeConverters
          .convertToScala(l.value, l.dataType)))
      case _ => None
    }
    def bin(f: (org.apache.spark.sql.Column, org.apache.spark.sql.Column) =>
        org.apache.spark.sql.Column): Option[org.apache.spark.sql.Column] =
      p.children().toSeq match {
        case Seq(a, b) =>
          for (ca <- operand(a); cb <- operand(b)) yield f(ca, cb)
        case _ => None
      }
    p match {
      case a: VAnd =>
        for (l <- predicateColumn(a.left()); r <- predicateColumn(a.right()))
          yield l && r
      case o: VOr =>
        for (l <- predicateColumn(o.left()); r <- predicateColumn(o.right()))
          yield l || r
      case n: VNot => predicateColumn(n.child()).map(!_)
      case _ => p.name() match {
        case "ALWAYS_TRUE" => Some(flit(true))
        case "ALWAYS_FALSE" => Some(flit(false))
        case "=" => bin(_ === _)
        case "<=>" => bin(_ <=> _)
        case "<>" => bin(_ =!= _)
        case "<" => bin(_ < _)
        case "<=" => bin(_ <= _)
        case ">" => bin(_ > _)
        case ">=" => bin(_ >= _)
        case "IS_NULL" =>
          p.children().toSeq match {
            case Seq(a) => operand(a).map(_.isNull)
            case _ => None
          }
        case "IS_NOT_NULL" =>
          p.children().toSeq match {
            case Seq(a) => operand(a).map(_.isNotNull)
            case _ => None
          }
        case "IN" =>
          p.children().toSeq match {
            case head +: rest if rest.nonEmpty =>
              val vals = rest.map(operand)
              if (vals.exists(_.isEmpty)) None
              else operand(head).map(_.isin(vals.flatten.map(c => c): _*))
            case _ => None
          }
        case _ => None
      }
    }
  }
}

/** A [[graft.operators.GraftTable]] version exposed as a DSv2 table:
  * batch + streaming reads, `INSERT INTO` (append), `INSERT OVERWRITE`
  * (full replace — one atomic commit, history stays time-travelable)
  * and `DELETE FROM` (partition rewrite of matched partitions — NOT a
  * deletion-vector commit, so the table stays SQL-scannable right
  * after). Keyed mutations (upsert/MERGE) stay on the Scala API —
  * they are statement-shaped, not INSERT-shaped.
  */
final class GraftSqlTable(spark: SparkSession, val gt: GraftTable,
                          val pinnedVersion: Long)
    extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDeleteV2
    with org.apache.spark.sql.connector.catalog.SupportsPartitionManagement {

  // ---------------------------------------------- partition management
  //
  // `SHOW PARTITIONS` / `ALTER TABLE … DROP PARTITION` / `TRUNCATE
  // TABLE … PARTITION` over every layout family: identity partitioning
  // lists typed values, hidden/multi-column layouts list the table's
  // RENDERED synthetic values (the directory grain mutations operate
  // on). Listing reads the pinned version's MANIFEST only — bounded by
  // the partition count, no data files touched, no distributed job.
  // Partitions materialize with data, so CREATE/RENAME PARTITION
  // reject; DROP and TRUNCATE are one metadata-level overwrite commit
  // (files leave the manifest, history stays time-travelable).

  private def partitionField: StructField =
    if (gt.partitionCol == GraftTable.SyntheticPartition)
      StructField(GraftTable.SyntheticPartition, org.apache.spark.sql.types.StringType)
    else tableSchema.fields.find(_.name == gt.partitionCol).getOrElse(
      StructField(gt.partitionCol, org.apache.spark.sql.types.StringType))

  override def partitionSchema(): StructType = StructType(Seq(partitionField))

  /** The pinned version's live partition VALUES as directory strings
    * (None = the Hive default/null partition) — manifest-only.
    */
  private def livePartitionStrings: Seq[Option[String]] =
    gt.liveFilesAt(pinnedVersion)
      .map(_.split('/').dropRight(1).mkString("/")).distinct.map { dir =>
        val raw = dir.stripPrefix(s"${gt.partitionCol}=")
        if (raw == "__HIVE_DEFAULT_PARTITION__") None
        else Some(org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
          .unescapePathName(raw))
      }

  private def toInternal(v: Option[String]): Any = v match {
    case None => null
    case Some(str) => Cast(
      Literal(UTF8String.fromString(str),
        org.apache.spark.sql.types.StringType),
      partitionField.dataType,
      Option(spark.sessionState.conf.sessionLocalTimeZone)).eval(null)
  }

  private def renderIdent(ident: org.apache.spark.sql.catalyst.InternalRow)
      : Option[String] = {
    if (ident.isNullAt(0)) return None
    val v = ident.get(0, partitionField.dataType)
    Option(Cast(Literal(v, partitionField.dataType),
      org.apache.spark.sql.types.StringType,
      Option(spark.sessionState.conf.sessionLocalTimeZone)).eval(null))
      .map(_.toString)
  }

  override def listPartitionIdentifiers(names: Array[String],
      ident: org.apache.spark.sql.catalyst.InternalRow)
      : Array[org.apache.spark.sql.catalyst.InternalRow] = {
    require(names.forall(_ == partitionField.name),
      s"unknown partition column(s) ${names.mkString(", ")} — the table " +
        s"partitions by ${partitionField.name}")
    val want: Option[Option[String]] =
      if (names.isEmpty) None
      else Some(if (ident.isNullAt(0)) None else renderIdent(ident))
    livePartitionStrings
      .filter(v => want.forall(_ == v))
      .map(v => org.apache.spark.sql.catalyst.InternalRow(toInternal(v)))
      .toArray
  }

  override def partitionExists(
      ident: org.apache.spark.sql.catalyst.InternalRow): Boolean = {
    val v = if (ident.isNullAt(0)) None else renderIdent(ident)
    livePartitionStrings.contains(v)
  }

  override def dropPartition(
      ident: org.apache.spark.sql.catalyst.InternalRow): Boolean = {
    requireHead("DROP PARTITION")
    val v = if (ident.isNullAt(0)) None else renderIdent(ident)
    if (!livePartitionStrings.contains(v)) return false
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], tableSchema)
    gt.overwritePartitionValues(Seq(v), empty)
    true
  }

  override def truncatePartition(
      ident: org.apache.spark.sql.catalyst.InternalRow): Boolean =
    dropPartition(ident) || {
      throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchPartitionException(name, ident, partitionSchema())
    }

  override def createPartition(
      ident: org.apache.spark.sql.catalyst.InternalRow,
      properties: java.util.Map[String, String]): Unit =
    throw new UnsupportedOperationException(
      "graft partitions materialize with data — INSERT rows instead of " +
        "ADD PARTITION")

  override def replacePartitionMetadata(
      ident: org.apache.spark.sql.catalyst.InternalRow,
      properties: java.util.Map[String, String]): Unit =
    throw new UnsupportedOperationException(
      "graft partitions carry no metadata")

  override def loadPartitionMetadata(
      ident: org.apache.spark.sql.catalyst.InternalRow)
      : java.util.Map[String, String] =
    java.util.Collections.emptyMap[String, String]()

  /** The table's CHECK constraints (`ALTER TABLE … ADD CONSTRAINT …
    * CHECK` / [[GraftTable.addCheck]]) surfaced through Spark 4's
    * constraint API — enforced (every graft mutation validates before
    * committing) and validated (ADD validates the standing rows).
    */
  override def constraints()
      : Array[org.apache.spark.sql.connector.catalog.constraints.Constraint] =
    gt.checks.toSeq.sortBy(_._1).map { case (n, p) =>
      org.apache.spark.sql.connector.catalog.constraints.Constraint.check(n)
        .predicateSql(p).enforced(true)
        .validationStatus(org.apache.spark.sql.connector.catalog.constraints
          .Constraint.ValidationStatus.VALID)
        .build(): org.apache.spark.sql.connector.catalog.constraints.Constraint
    }.toArray

  /** Sidecar schema (metadata only — building the empty frame plans no
    * job). Synthetic tables hide their derived `__gp` partition column:
    * SQL users never see or write it.
    */
  /** Reported column order = the DECLARED (sidecar) order: the
    * CREATE-time order with evolution appends at the very end — what
    * DESCRIBE should show, what positional INSERT/CTAS writes resolve
    * against, and the append-at-end prefix rule the engine's `MERGE
    * WITH SCHEMA EVOLUTION` attribute remapping assumes. The physical
    * scans still produce (data columns ++ partition column)
    * positionally; the V2 pushdown compensates with a name-based
    * projection on reads, the streaming source reorders its readers
    * ([[GraftReorderingReaderFactory]]), and the row-level strategy
    * claims DELETEs whose target arrives Project-wrapped (the
    * capability exec requires a bare relation).
    */
  val tableSchema: StructType = {
    val full = gt.declaredLogicalSchema.getOrElse(gt.read.schema)
    if (gt.partitionCol == GraftTable.SyntheticPartition)
      StructType(full.fields.filterNot(_.name == gt.partitionCol))
    else full
  }

  // no dots/backticks: some engine paths parse the name as an attribute
  override def name: String =
    s"graft:${gt.path.replace('.', '_')}@v$pinnedVersion"

  /** `SHOW TBLPROPERTIES` / `DESCRIBE TABLE EXTENDED` surface: the
    * table's configuration (keys, stats/Bloom columns, partition
    * layout), its CHECK constraints, the column-mapping state and the
    * pinned version — all metadata-only reads.
    */
  override def properties(): java.util.Map[String, String] = {
    val m = new java.util.LinkedHashMap[String, String]()
    m.put("keys", gt.keys.mkString(","))
    if (gt.partitionCol == GraftTable.SyntheticPartition)
      m.put("partitioning",
        if (gt.partitionSrc.isEmpty) "unpartitioned"
        else if (gt.partitionXform.exists(_ != "identity"))
          s"hidden(${gt.partitionSrc.zip(gt.partitionXform)
            .map { case (c, xf) => s"$xf($c)" }.mkString(",")})"
        else s"synthetic(${gt.partitionSrc.mkString(",")})")
    else m.put("partitioning", gt.partitionCol)
    if (gt.statsCols.nonEmpty) m.put("statsCols", gt.statsCols.mkString(","))
    if (gt.bloomCols.nonEmpty) m.put("bloomCols", gt.bloomCols.mkString(","))
    m.put("version", pinnedVersion.toString)
    gt.checks.toSeq.sortBy(_._1).foreach { case (n, p) =>
      m.put(s"check.$n", p)
    }
    val (cmap, hidden) = gt.columnMap
    if (cmap.nonEmpty) m.put("columnMapping",
      cmap.toSeq.sortBy(_._1).map { case (l, p) => s"$l->$p" }.mkString(","))
    if (hidden.nonEmpty) m.put("droppedPhysicalColumns",
      hidden.toSeq.sorted.mkString(","))
    // free-form properties (ALTER TABLE SET TBLPROPERTIES / non-config
    // CREATE keys) surface verbatim — SHOW TBLPROPERTIES round-trips
    gt.tableProps.toSeq.sortBy(_._1).foreach { case (k, v) => m.put(k, v) }
    m
  }
  override def schema: StructType = tableSchema
  override def partitioning: Array[Transform] =
    if (gt.partitionCol == GraftTable.SyntheticPartition) {
      val xfs =
        if (gt.partitionXform.nonEmpty) gt.partitionXform
        else gt.partitionSrc.map(_ => "identity")
      gt.partitionSrc.zip(xfs).map { // logical (possibly hidden) partitioning
        case (c, "identity") => Expressions.identity(c)
        case (c, "years") => Expressions.years(c)
        case (c, "months") => Expressions.months(c)
        case (c, "days") => Expressions.days(c)
        case (c, "hours") => Expressions.hours(c)
        case (c, b) if b.startsWith("bucket[") =>
          Expressions.bucket(
            b.stripPrefix("bucket[").stripSuffix("]").toInt, c)
        case (c, t) if t.startsWith("truncate[") =>
          Expressions.apply("truncate",
            Expressions.literal(
              t.stripPrefix("truncate[").stripSuffix("]").toInt),
            Expressions.column(c))
        case (c, _) => Expressions.identity(c)
      }.toArray
    } else Array(Expressions.identity(gt.partitionCol))
  override def capabilities: java.util.Set[TableCapability] = {
    val caps = java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.V1_BATCH_WRITE,
      TableCapability.STREAMING_WRITE,
      TableCapability.TRUNCATE, TableCapability.OVERWRITE_BY_FILTER,
      TableCapability.OVERWRITE_DYNAMIC,
      // `MERGE WITH SCHEMA EVOLUTION`: the analyzer computes the
      // source-vs-target schema delta itself and applies it through
      // [[graft.sources.GraftCatalog.alterTable]] (AddColumn -> the
      // lock-safe sidecar evolution; a type conflict arrives as
      // UpdateColumnType and passes only up the widening lattice) --
      // gated on the explicit SQL syntax, so a plain MERGE still
      // rejects unknown assignment targets
      TableCapability.AUTOMATIC_SCHEMA_EVOLUTION)
    // DataFrame/SQL appends with NEW source columns (opt-in, the Delta
    // autoMerge shape): skipping the analyzer's output resolution lets
    // the frame reach [[GraftTable.conform]], which evolves the sidecar
    // schema and aligns BY NAME -- key/partition columns stay required
    // (a positionally-shaped insert whose names don't line up fails
    // loudly rather than scrambling)
    // NOTE while the conf is on, INSERTs align BY NAME (conform) —
    // positional inserts whose names happen to match table columns in
    // a different order land by name, a documented divergence of the
    // opt-in (the analyzer's positional resolution is what the
    // capability bypasses). Session-scoped: the conf is read from the
    // session that loaded this table, not whichever is thread-active.
    if (spark.conf.getOption("spark.graft.schema.autoMerge")
        .exists(_.toBoolean))
      caps.add(TableCapability.ACCEPT_ANY_SCHEMA)
    caps
  }

  private def requireHead(op: String): Unit =
    require(pinnedVersion == gt.currentVersion,
      s"$op targets a time-travel snapshot (v$pinnedVersion, head is " +
        s"v${gt.currentVersion}) — writes go to the live table only")

  /** INSERT INTO appends. INSERT OVERWRITE covers all three SQL
    * shapes: whole-table (truncate-form — one atomic replace commit),
    * STATIC `PARTITION (p = v)` (OVERWRITE_BY_FILTER → only the named
    * partitions replace, incoming rows validated against the spec,
    * the Delta `replaceWhere` discipline), and DYNAMIC
    * `partitionOverwriteMode=dynamic` (OVERWRITE_DYNAMIC → a real V2
    * staged write, [[GraftBatchStageWrite]]: tasks stage parquet, the
    * driver commit replaces exactly the partitions the rows touch).
    * The SAME builder serves `df.writeStream.toTable(…)`:
    * `toStreaming` is the exactly-once epoch-committed append
    * ([[GraftStreamingWrite]] — APPEND output mode only).
    */
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder = {
    requireHead("INSERT")
    new org.apache.spark.sql.connector.write.WriteBuilder
      with org.apache.spark.sql.connector.write.SupportsOverwriteV2
      with org.apache.spark.sql.connector.write.SupportsDynamicOverwrite {
      // None = append; Some(Nil) = whole-table; Some(preds) = static
      // partition filter
      private var overwritePreds: Option[
        Seq[org.apache.spark.sql.connector.expressions.filter.Predicate]] = None
      private var dynamic = false

      /** Static-overwrite filters this table accepts: none (truncate),
        * or equality conjuncts on the PARTITION column only — a filter
        * on any other column cannot name a partition set and rejects
        * the statement up front (the engine errors cleanly).
        */
      private def partitionValuesOf(
          preds: Seq[org.apache.spark.sql.connector.expressions.filter.Predicate])
          : Option[Seq[Option[String]]] = {
        import org.apache.spark.sql.connector.expressions.{NamedReference, Literal => VLit}
        val perPred = preds.map { p =>
          if (p.name() == "ALWAYS_TRUE") Some(Nil)
          else if (p.name() == "=") p.children().toSeq match {
            case Seq(n: NamedReference, l: VLit[_])
                if n.fieldNames().length == 1 &&
                  n.fieldNames()(0) == gt.partitionCol =>
              // render through catalyst's cast-to-string — the SAME
              // rendering the write side uses for partition values
              // (java toString diverges for timestamps/dates and the
              // statement would spuriously reject)
              val rendered = Option(Cast(
                Literal(l.value, l.dataType),
                org.apache.spark.sql.types.StringType,
                Option(spark.sessionState.conf.sessionLocalTimeZone))
                .eval(null)).map(_.toString)
              Some(Seq(rendered))
            case _ => None
          } else None
        }
        if (perPred.exists(_.isEmpty)) None
        else {
          // the predicate array is a CONJUNCTION: equality conjuncts
          // on the partition column INTERSECT (they do not union — a
          // V2 overwrite(p === 2 && p === 3) matches zero rows and
          // must not replace partitions 2 AND 3). Distinct conflicting
          // values make the conjunction unsatisfiable → reject the
          // capability up front (canOverwrite = false) instead of
          // deleting data the predicate does not cover.
          val eqs = perPred.flatten.flatten
          if (eqs.isEmpty) Some(Nil) // truncate / ALWAYS_TRUE only
          else if (eqs.distinct.size == 1) Some(Seq(eqs.head))
          else None
        }
      }

      override def canOverwrite(
          predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate])
          : Boolean = partitionValuesOf(predicates.toSeq).isDefined

      override def overwrite(
          predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate])
          : org.apache.spark.sql.connector.write.WriteBuilder = {
        overwritePreds = Some(predicates.toSeq); this
      }

      override def truncate(): org.apache.spark.sql.connector.write.WriteBuilder = {
        overwritePreds = Some(Nil); this
      }

      override def overwriteDynamicPartitions()
          : org.apache.spark.sql.connector.write.WriteBuilder = {
        dynamic = true; this
      }

      override def build(): org.apache.spark.sql.connector.write.Write = {
        if (dynamic)
          return new GraftBatchStageWrite(spark, gt, info.schema(), "dynov",
            frame => { gt.overwritePartitions(frame); () })
        new org.apache.spark.sql.connector.write.V1Write {
          override def toInsertableRelation: org.apache.spark.sql.sources.InsertableRelation =
            new org.apache.spark.sql.sources.InsertableRelation {
              override def insert(data: org.apache.spark.sql.DataFrame,
                                  ov: Boolean): Unit = {
                overwritePreds match {
                  case None if !ov => gt.append(data)
                  case None => gt.overwriteAll(data)
                  case Some(preds) =>
                    val vals = partitionValuesOf(preds).getOrElse(
                      throw new UnsupportedOperationException(
                        "INSERT OVERWRITE supports a whole-table " +
                          "overwrite or equality predicates on the " +
                          "partition column (PARTITION (p = v)); got: " +
                          preds.map(_.describe()).mkString(" AND ")))
                    if (vals.isEmpty) gt.overwriteAll(data)
                    else gt.overwritePartitionValues(vals, data)
                }
                ()
              }
            }
          override def toStreaming
              : org.apache.spark.sql.connector.write.streaming.StreamingWrite = {
            if (overwritePreds.nonEmpty || dynamic)
              throw new UnsupportedOperationException(
                "graft streaming writes support the APPEND output mode " +
                  "only — complete/update need per-epoch replace " +
                  "semantics; use foreachBatch with upsertReplaceBatch/" +
                  "mergeBatch for keyed apply")
            new GraftStreamingWrite(spark, gt, info.queryId(), info.schema())
          }
        }
      }
    }
  }

  /** DELETE FROM support: only predicates fully translatable to table
    * columns are accepted (the analyzer errors otherwise — never a
    * silent partial delete).
    */
  override def canDeleteWhere(
      predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate])
      : Boolean = predicates.forall(p => GraftSqlRead.predicateColumn(p).isDefined)

  override def deleteWhere(
      predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate])
      : Unit = {
    requireHead("DELETE")
    val conds = predicates.toSeq.map(p => GraftSqlRead.predicateColumn(p).getOrElse(
      throw new UnsupportedOperationException(
        s"unsupported DELETE predicate: ${p.describe()}")))
    // whole-table deletes (TRUNCATE / no predicate) drop every
    // partition at the MANIFEST level — no vectors, no files written;
    // selective predicates record a DELETION VECTOR (O(matched rows),
    // zero rewrites) — affordable since round 9 because the SQL scan
    // serves vectors in-flight instead of refusing
    if (predicates.isEmpty || predicates.forall(_.name() == "ALWAYS_TRUE"))
      gt.deleteWhereRewrite(org.apache.spark.sql.functions.lit(true))
    else
      gt.deleteWhere(conds.reduce(_ && _))
    ()
  }

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    // streaming option (Delta parity, our exclusive-anchor convention):
    // .option("startingVersion", v) starts the STREAM at commit version
    // v — the first batch emits what entered the live set AFTER v (the
    // same "every change since v" anchor as `t__changes VERSION AS OF
    // v`), instead of the fresh-checkpoint full snapshot
    val startingVersion = Option(options.get("startingVersion")).map { raw =>
      val v = scala.util.Try(raw.trim.toLong).getOrElse(
        throw new IllegalArgumentException(
          s"startingVersion must be a version number, got '$raw'"))
      require(v >= 0, s"startingVersion must be >= 0, got $v")
      v
    }
    new GraftScanBuilder(spark, gt, pinnedVersion, tableSchema,
      ignoreDeletes = options.getBoolean("ignoreDeletes", false),
      startingVersion = startingVersion)
  }
}

/** Delegates the entire pushdown protocol to Spark's parquet scan
  * builder over a pruning file index; wraps the built scan only to add
  * the micro-batch stream surface.
  */
final class GraftScanBuilder(spark: SparkSession, gt: GraftTable,
                             version: Long, tableSchema: StructType,
                             ignoreDeletes: Boolean = false,
                             startingVersion: Option[Long] = None)
    extends ScanBuilder with SupportsPushDownCatalystFilters
    with org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns
    with org.apache.spark.sql.connector.read.SupportsPushDownAggregates {

  // COLUMN MAPPING boundary: the engine (and `tableSchema`) speaks
  // LOGICAL names; files, pushed parquet filters and the zone-map/Bloom
  // tiers speak PHYSICAL — the parquet machinery below is built over
  // the physical rename (identity for unmapped tables), row output is
  // positional, and [[GraftScan.readSchema]] renames back. ONE map
  // SNAPSHOT per builder: a concurrent rename landing mid-planning can
  // never produce a torn translation (filters under the old map, output
  // renamed under the new).
  private val (logToPhys, _) = gt.columnMap
  private val physToLog = logToPhys.map(_.swap)
  private def physName(n: String): String = logToPhys.getOrElse(n, n)
  private def physOf(s: StructType): StructType =
    StructType(s.fields.map(f => f.copy(name = physName(f.name))))
  private def toPhys(e: Expression): Expression = e.transform {
    case a: org.apache.spark.sql.catalyst.expressions.AttributeReference =>
      a.withName(physName(a.name))
  }
  private def toLogical(e: Expression): Expression = e.transform {
    case a: org.apache.spark.sql.catalyst.expressions.AttributeReference =>
      a.withName(physToLog.getOrElse(a.name, a.name))
  }
  private val physTableSchema = physOf(tableSchema)
  private val physDataSchema = StructType(
    physTableSchema.fields.filterNot(_.name == gt.partitionCol))
  // the file index needs the FULL physical schema (it types the
  // partition dirs, incl. a synthetic table's hidden __gp); the scan
  // builder gets the PUBLIC one, so readSchema never surfaces hidden
  // columns
  private val fileIndex =
    new GraftPrunedFileIndex(spark, gt, version, gt.physicalReadSchema)
  private val inner = ParquetScanBuilder(spark, fileIndex, physTableSchema,
    physDataSchema, GraftSqlRead.emptyOptions)
  private var prunedSchema: Option[StructType] = None

  // pushed filters (physical terms): data filters defeat metadata-only
  // aggregation (manifest row counts describe whole files), but
  // filters referencing ONLY the partition column restrict it to the
  // matching directories — every row of a surviving file matches, so
  // per-file counts stay exact
  private var pushedPhys: Seq[Expression] = Nil
  // (output schema, EXTERNAL values) once a metadata aggregate pushed
  private var metaAgg: Option[(StructType, Seq[Any])] = None

  override def pushFilters(filters: Seq[Expression]): Seq[Expression] = {
    val phys = filters.map(toPhys)
    pushedPhys = pushedPhys ++ phys
    // residuals return in LOGICAL terms (exprIds are preserved either
    // way — the engine binds by id; names keep plans readable)
    inner.pushFilters(phys).map(toLogical)
  }

  /** METADATA-ONLY AGGREGATE PUSHDOWN: `SELECT count(*) / count(c) /
    * min(c) / max(c) FROM t` (no WHERE, no GROUP BY, no DISTINCT)
    * answers from the manifest's footer-harvested row counts and zone
    * maps — ZERO data files read, planned as a [[LocalScan]] (a local
    * table scan, no distributed job). PARTIAL-pushdown contract
    * (`supportCompletePushDown` stays false): the scan emits ONE row of
    * partials and the engine's final aggregate folds it — exact for
    * empty tables (count 0, min/max null) under the same rewrite the
    * parquet source uses. [[GraftTable.metadataAggregates]] holds the
    * exactness rules (every live file stats-covered, no deletion
    * vectors, no truncatable string / NaN-able double extrema);
    * anything unprovable returns false and the normal scan runs.
    */
  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Boolean = {
    import org.apache.spark.sql.connector.expressions.NamedReference
    import org.apache.spark.sql.connector.expressions.aggregate.{Count, CountStar, Max, Min}
    if (agg.groupByExpressions().nonEmpty) return false
    // filters are acceptable ONLY when every one constrains the
    // (physical, Hive-layout) partition column alone — the file
    // listing then restricts the manifest read exactly
    val partOnly = gt.partitionCol != GraftTable.SyntheticPartition &&
      pushedPhys.forall(_.references.toSeq.map(_.name).toSet
        == Set(gt.partitionCol))
    if (pushedPhys.nonEmpty && !partOnly) return false
    def fieldOf(e: org.apache.spark.sql.connector.expressions.Expression)
        : Option[String] = e match {
      case n: NamedReference if n.fieldNames().length == 1 =>
        Some(n.fieldNames()(0))
      case _ => None
    }
    val specs: Seq[Option[GraftTable.MetaAgg]] =
      agg.aggregateExpressions().toSeq.map {
        case _: CountStar => Some(GraftTable.MetaCountStar)
        case c: Count if !c.isDistinct =>
          fieldOf(c.column).map(GraftTable.MetaCountCol)
        case m: Min => fieldOf(m.column).map(GraftTable.MetaMin)
        case m: Max => fieldOf(m.column).map(GraftTable.MetaMax)
        case _ => None
      }
    if (specs.isEmpty || specs.exists(_.isEmpty)) return false
    // the engine-shared schema builder — the exact shape the partial-
    // aggregate rewrite expects back from readSchema()
    val outSchema = org.apache.spark.sql.execution.datasources
      .AggregatePushDownUtils.getSchemaForPushedAggregation(
        agg, tableSchema, Set.empty[String], Seq.empty[Expression])
      .getOrElse(return false)
    val restrict: Option[Set[String]] =
      if (pushedPhys.isEmpty) None
      else scala.util.Try {
        // the engine's own partition pruning decides which directories
        // survive — exactly the pruning the real scan would apply
        Some(fileIndex.listFiles(pushedPhys, Nil).flatMap(_.files.map { f =>
          val p = f.getPath
          s"${p.getParent.getName}/${p.getName}"
        }).toSet)
      }.getOrElse(return false)
    gt.metadataAggregates(version, specs.flatten, restrict) match {
      case Some(vals) => metaAgg = Some((outSchema, vals)); true
      case None => false
    }
  }
  override def pushedFilters: Array[org.apache.spark.sql.connector.expressions.filter.Predicate] =
    inner.pushedFilters
  override def pruneColumns(requiredSchema: StructType): Unit = {
    prunedSchema = Some(physOf(requiredSchema))
    inner.pruneColumns(physOf(requiredSchema))
  }
  override def build(): Scan = {
    metaAgg.foreach { case (outSchema, vals) => return GraftMetaAggScan(
      gt.path, outSchema, vals) }
    // versions with live deletion vectors subtract them inside the
    // scan ([[GraftDvBatch]]): DV'd files re-read whole through a scan
    // with NO pushed parquet filters (identical column pruning), so
    // position counting matches `_metadata.row_index` exactly.
    // LAZY: resolving the DV pointer map may run the one-time sidecar
    // staging job — only a BATCH consumer pays it (toBatch); a scan
    // used as a micro-batch stream resolves its own per-batch vectors.
    lazy val dv = gt.dvPointersAt(version)
    lazy val clean = if (dv.isEmpty) None else Some {
      val b = ParquetScanBuilder(spark, fileIndex, physTableSchema,
        physDataSchema, GraftSqlRead.emptyOptions)
      prunedSchema.foreach(b.pruneColumns)
      b.build()
    }
    new GraftScan(spark, gt, tableSchema, inner.build(), ignoreDeletes,
      () => clean, () => dv, physToLog, startingVersion,
      fileIndexForRuntime = Some(fileIndex), version = version)
  }
}

/** Batch behavior = the wrapped parquet scan; micro-batch = version
  * offsets over the commit log.
  */
final class GraftScan(spark: SparkSession, gt: GraftTable,
                      tableSchema: StructType, inner: Scan,
                      ignoreDeletes: Boolean = false,
                      cleanScan: () => Option[Scan] = () => None,
                      dv: () => Map[String, String] = () => Map.empty,
                      physToLog: Map[String, String] = Map.empty,
                      startingVersion: Option[Long] = None,
                      fileIndexForRuntime: Option[GraftPrunedFileIndex] = None,
                      version: Long = -1L)
    extends Scan
    with org.apache.spark.sql.connector.read.SupportsReportStatistics
    with org.apache.spark.sql.connector.read.SupportsReportPartitioning
    with org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering {

  private lazy val logToPhys = physToLog.map(_.swap)

  /** RUNTIME FILTERING (dynamic partition pruning, DSv2 form): the
    * engine hands this scan the JOIN-KEY VALUES a dynamic-pruning
    * subquery materialized (one `IN` predicate per pruning key), and
    * the scan re-plans its partitions before executing — the classic
    * star-schema win, where a filtered dimension prunes the fact scan
    * AT RUNTIME. Declared prunable: the zone-map/Bloom columns (values
    * probe the same candidate ladder every static predicate uses — one
    * metadata job, never a data read) and the partition column (values
    * become partition-directory filters on the file index, the same
    * path static partition predicates prune through). Conservative
    * supersets always — the join itself still filters rows; at 100 TB
    * this is the difference between scanning the fact table and
    * scanning the handful of files the dimension's keys can touch.
    */
  override def filterAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    fileIndexForRuntime match {
      case None => Array.empty
      case Some(_) =>
        // only columns in the PRUNED scan output: the engine resolves
        // these against the scan relation and errors on absent names
        val visible = readSchema().fields.map(_.name).toSet
        val statCols = (gt.statsCols ++ gt.bloomCols)
          .map(p => physToLog.getOrElse(p, p)).filter(visible)
        val partCol =
          if (gt.partitionCol == GraftTable.SyntheticPartition) Nil
          else Seq(gt.partitionCol).filter(visible)
        (statCols ++ partCol).distinct
          .map(Expressions.column).toArray
    }

  override def filter(
      predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate])
      : Unit = fileIndexForRuntime.foreach { fi =>
    import org.apache.spark.sql.connector.expressions.{NamedReference, Literal => VLit}
    def colAndLits(p: org.apache.spark.sql.connector.expressions.filter.Predicate)
        : Option[(String, Seq[VLit[_]])] = {
      val kids = p.children().toSeq
      p.name() match {
        case "IN" => kids match {
          case (n: NamedReference) +: rest
              if n.fieldNames().length == 1 && rest.nonEmpty &&
                rest.forall(_.isInstanceOf[VLit[_]]) =>
            Some(n.fieldNames()(0) -> rest.map(_.asInstanceOf[VLit[_]]))
          case _ => None
        }
        case "=" => kids match {
          case Seq(n: NamedReference, l: VLit[_]) if n.fieldNames().length == 1 =>
            Some(n.fieldNames()(0) -> Seq(l))
          case Seq(l: VLit[_], n: NamedReference) if n.fieldNames().length == 1 =>
            Some(n.fieldNames()(0) -> Seq(l))
          case _ => None
        }
        case _ => None
      }
    }
    predicates.foreach { p =>
      colAndLits(p).foreach { case (logical, lits) =>
        val phys = logToPhys.getOrElse(logical, logical)
        if (phys == gt.partitionCol &&
          gt.partitionCol != GraftTable.SyntheticPartition) {
          fi.partitionSchema.fields.find(_.name == phys).foreach { field =>
            val catLits = lits.map(l => Literal(l.value, l.dataType))
              .filter(_.value != null) // equality never matches null
            if (catLits.nonEmpty && catLits.forall(_.dataType == field.dataType)) {
              val attr = AttributeReference(field.name, field.dataType)()
              val e: Expression =
                if (catLits.size == 1) EqualTo(attr, catLits.head)
                else In(attr, catLits)
              fi.runtimePartFilters = fi.runtimePartFilters :+ e
              GraftSqlRead.runtimeFilterEvents.incrementAndGet()
            }
          }
        } else if (gt.statsCols.contains(phys) || gt.bloomCols.contains(phys)) {
          val ext = lits.flatMap(l => Option(
            org.apache.spark.sql.catalyst.CatalystTypeConverters
              .convertToScala(l.value, l.dataType)))
          if (ext.nonEmpty) {
            val cand = (
              if (ext.size <= graft.operators.PredicatePruning.BloomProbeMaxValues)
                gt.candidateFilesEqualsAnyVersioned(phys, ext, version)
              else gt.candidateFilesInSortedVersioned(phys, ext, version)).toSet
            fi.runtimeKeep = Some(fi.runtimeKeep.fold(cand)(_ intersect cand))
            GraftSqlRead.runtimeFilterEvents.incrementAndGet()
          }
        }
      }
    }
  }
  // positional rename physical → logical (identity for unmapped
  // tables; the builder's ONE map snapshot — never re-read mid-plan)
  override def readSchema(): StructType = StructType(
    inner.readSchema().fields.map(f =>
      f.copy(name = physToLog.getOrElse(f.name, f.name))))

  /** STORAGE-PARTITIONED JOIN eligibility: a Hive-partitioned (non-
    * synthetic) table whose partition column survives column pruning,
    * under the engine's v2-bucketing flag, with no live deletion
    * vectors (the DV re-plan mixes directories). When eligible, the
    * scan plans ONE-OR-MORE input partitions per partition VALUE (each
    * carrying its key row) and reports [[KeyGroupedPartitioning]] —
    * two graft tables partitioned on the same key then join with NO
    * shuffle exchange on either side, and a groupBy on the partition
    * key aggregates exchange-free. At 100 TB this is the fact-fact
    * join lever: partition both facts on the join key once, and every
    * subsequent join is co-located by the manifest, not by a 100 TB
    * shuffle.
    */
  /** Hidden `bucket[n]` partitioning over exactly one source column:
    * (n, source col) — reportable as a bucket transform for
    * storage-partitioned joins (the source column is guarded
    * unrenamable, so logical == physical).
    */
  private lazy val bucketSpec: Option[(Int, String)] =
    if (gt.partitionCol == GraftTable.SyntheticPartition &&
      gt.partitionSrc.size == 1 && gt.partitionXform.size == 1 &&
      gt.partitionXform.head.startsWith("bucket["))
      Some((gt.partitionXform.head.stripPrefix("bucket[")
        .stripSuffix("]").toInt, gt.partitionSrc.head))
    else None

  private lazy val keyedCommonOk: Boolean =
    fileIndexForRuntime.isDefined &&
      spark.conf.get("spark.sql.sources.v2.bucketing.enabled",
        "false") == "true" &&
      inner.isInstanceOf[
        org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan] &&
      dv().isEmpty

  private lazy val keyedEligible: Boolean =
    keyedCommonOk &&
      gt.partitionCol != GraftTable.SyntheticPartition &&
      readSchema().fieldNames.contains(gt.partitionCol)

  private lazy val bucketEligible: Boolean =
    keyedCommonOk && bucketSpec.exists { case (_, src) =>
      readSchema().fieldNames.contains(src)
    }

  override def outputPartitioning()
      : org.apache.spark.sql.connector.read.partitioning.Partitioning =
    if (keyedEligible)
      new org.apache.spark.sql.connector.read.partitioning
        .KeyGroupedPartitioning(
          Array(Expressions.identity(gt.partitionCol)),
          fileIndexForRuntime.get.partitionSpec().partitions.size)
    else if (bucketEligible) {
      val (n, src) = bucketSpec.get
      new org.apache.spark.sql.connector.read.partitioning
        .KeyGroupedPartitioning(
          Array(Expressions.bucket(n, src)),
          fileIndexForRuntime.get.partitionSpec().partitions.size)
    } else new org.apache.spark.sql.connector.read.partitioning
      .UnknownPartitioning(0)

  override def toBatch: Batch = {
    val d = dv()
    // bucket-partitioned scans key each directory by its PARSED bucket
    // id (an INT row — the bucket transform's output type); identity
    // scans pass the directory's typed value row through
    val keyOf: Option[org.apache.spark.sql.catalyst.InternalRow =>
      org.apache.spark.sql.catalyst.InternalRow] =
      if (keyedEligible) Some(identity)
      else if (bucketEligible) Some(values =>
        org.apache.spark.sql.catalyst.InternalRow(
          values.getUTF8String(0).toString.toInt))
      else None
    cleanScan() match {
      case Some(c) if d.nonEmpty => new GraftDvBatch(inner.toBatch, c.toBatch, d)
      case _ if keyOf.isDefined =>
        new GraftKeyedBatch(spark,
          inner.asInstanceOf[
            org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan],
          fileIndexForRuntime.get, keyOf.get)
      case _ => inner.toBatch
    }
  }
  override def description(): String = s"GraftScan(${gt.path}) -> ${inner.description()}"
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new GraftMicroBatchStream(spark, gt, tableSchema, ignoreDeletes,
      startingVersion)

  /** Size/row statistics forwarded from the parquet scan (post-pruning
    * file sizes), ENRICHED with the table's ANALYZE output
    * ([[GraftTable.analyzeTable]] / `CALL <cat>.system.analyze`): V2
    * column statistics (NDV, null count, integral/floating extrema,
    * string lengths) flow through `transformV2Stats` into the logical
    * plan's `attributeStats`, feeding the cost-based optimizer's
    * filter-selectivity / join-reorder / broadcast decisions. Row
    * count falls back to the ANALYZE row count when the parquet
    * estimate has none. Stats may be STALE (computed at an older
    * version) — estimates only, never results.
    */
  override def estimateStatistics(): org.apache.spark.sql.connector.read.Statistics = {
    val base = inner match {
      case s: org.apache.spark.sql.connector.read.SupportsReportStatistics =>
        s.estimateStatistics()
      case _ => new org.apache.spark.sql.connector.read.Statistics {
        override def sizeInBytes(): java.util.OptionalLong = java.util.OptionalLong.empty()
        override def numRows(): java.util.OptionalLong = java.util.OptionalLong.empty()
      }
    }
    gt.tableStats match {
      case None => base
      case Some(ts) =>
        val colStats = new java.util.HashMap[
          org.apache.spark.sql.connector.expressions.NamedReference,
          org.apache.spark.sql.connector.read.colstats.ColumnStatistics]()
        tableSchema.fields.foreach { f =>
          ts.cols.get(f.name).foreach { cs =>
            colStats.put(Expressions.column(f.name),
              GraftColumnStatistics(cs, f.dataType))
          }
        }
        new org.apache.spark.sql.connector.read.Statistics {
          override def sizeInBytes(): java.util.OptionalLong = base.sizeInBytes()
          override def numRows(): java.util.OptionalLong =
            if (base.numRows().isPresent) base.numRows()
            else java.util.OptionalLong.of(ts.rowCount)
          override def columnStats(): java.util.Map[
            org.apache.spark.sql.connector.expressions.NamedReference,
            org.apache.spark.sql.connector.read.colstats.ColumnStatistics] =
            colStats
        }
    }
  }
}

/** One column's V2 statistics view over the ANALYZE sidecar entry —
  * extrema are re-typed to the COLUMN's catalyst representation (the
  * cost model compares them against literals of the attribute type).
  */
final case class GraftColumnStatistics(cs: GraftTable.ColumnStats,
                                       dt: org.apache.spark.sql.types.DataType)
    extends org.apache.spark.sql.connector.read.colstats.ColumnStatistics {
  private def oL(o: Option[Long]): java.util.OptionalLong =
    o.map(java.util.OptionalLong.of).getOrElse(java.util.OptionalLong.empty())
  /** Sidecar extrema are EXACT string renderings; parse back to the
    * column's catalyst representation (a double roundtrip would
    * corrupt BIGINT bounds beyond 2^53).
    */
  private def typed(v: String): Option[Object] = scala.util.Try[Object](dt match {
    case org.apache.spark.sql.types.ByteType => java.lang.Byte.valueOf(v.toByte)
    case org.apache.spark.sql.types.ShortType => java.lang.Short.valueOf(v.toShort)
    case org.apache.spark.sql.types.IntegerType => java.lang.Integer.valueOf(v.toInt)
    case org.apache.spark.sql.types.LongType => java.lang.Long.valueOf(v.toLong)
    case org.apache.spark.sql.types.FloatType => java.lang.Float.valueOf(v.toFloat)
    case _ => java.lang.Double.valueOf(v.toDouble)
  }).toOption
  override def distinctCount(): java.util.OptionalLong = oL(cs.ndv)
  override def nullCount(): java.util.OptionalLong = oL(cs.nullCount)
  override def min(): java.util.Optional[Object] =
    cs.min.flatMap(typed).map(java.util.Optional.of[Object])
      .getOrElse(java.util.Optional.empty[Object]())
  override def max(): java.util.Optional[Object] =
    cs.max.flatMap(typed).map(java.util.Optional.of[Object])
      .getOrElse(java.util.Optional.empty[Object]())
  override def avgLen(): java.util.OptionalLong = oL(cs.avgLen)
  override def maxLen(): java.util.OptionalLong = oL(cs.maxLen)
  /** The ANALYZE equi-height histogram (numeric columns):
    * `transformV2Stats` lands it in the attribute's catalyst
    * `ColumnStat.histogram`, where filter estimation reads range/equality
    * selectivity off bin coverage — the statistic that survives skew
    * (min/max uniform interpolation does not).
    */
  override def histogram(): java.util.Optional[
      org.apache.spark.sql.connector.read.colstats.Histogram] =
    cs.hist match {
      case Some(h) =>
        java.util.Optional.of(
          new org.apache.spark.sql.connector.read.colstats.Histogram {
            override def height(): Double = h.height
            override def bins(): Array[
                org.apache.spark.sql.connector.read.colstats.HistogramBin] =
              h.bins.map { b =>
                new org.apache.spark.sql.connector.read.colstats.HistogramBin {
                  override def lo(): Double = b.lo
                  override def hi(): Double = b.hi
                  override def ndv(): Long = b.ndv
                }
              }.toArray
          })
      case None => java.util.Optional.empty()
    }
}

/** The one-row result of a METADATA-ONLY aggregate pushdown
  * ([[GraftScanBuilder.pushAggregation]]): a [[LocalScan]], so the
  * engine plans a LocalTableScanExec — the whole statement runs zero
  * distributed jobs and opens zero data files. Values arrive as the
  * canonical primitives [[GraftTable.metadataAggregates]] emits and
  * convert here to the output schema's INTERNAL representation
  * (narrowing integral counts/extrema back to the column's declared
  * width; dates stay epoch-day ints, timestamps epoch-micros longs).
  */
final case class GraftMetaAggScan(tablePath: String, outSchema: StructType,
                                  vals: Seq[Any])
    extends org.apache.spark.sql.connector.read.LocalScan {
  override def readSchema(): StructType = outSchema
  override def description(): String = s"GraftMetaAggScan($tablePath)"
  override def rows(): Array[org.apache.spark.sql.catalyst.InternalRow] = {
    import org.apache.spark.sql.types._
    val internal = outSchema.fields.toSeq.zip(vals).map {
      case (_, null) => null
      case (f, v: java.lang.Long) => f.dataType match {
        case LongType | TimestampType | TimestampNTZType => v
        case IntegerType => java.lang.Integer.valueOf(v.intValue)
        case ShortType => java.lang.Short.valueOf(v.shortValue)
        case ByteType => java.lang.Byte.valueOf(v.byteValue)
        case other => throw new IllegalStateException(
          s"metadata aggregate: long value for ${other.simpleString}")
      }
      case (f, v: java.lang.Integer) => f.dataType match {
        case DateType | IntegerType => v
        case other => throw new IllegalStateException(
          s"metadata aggregate: int value for ${other.simpleString}")
      }
      case (_, v: java.lang.Boolean) => v
      case (f, v) => throw new IllegalStateException(
        s"metadata aggregate: unexpected $v for ${f.dataType.simpleString}")
    }
    Array(org.apache.spark.sql.catalyst.InternalRow.fromSeq(internal))
  }
}

/** One input partition of a KEY-GROUPED scan: a [[FilePartition]] whose
  * files all share ONE partition value, plus that value as the key row
  * ([[HasPartitionKey]]) — what lets the engine line two scans up for a
  * storage-partitioned join.
  */
final case class GraftKeyedInputPartition(
    file: org.apache.spark.sql.execution.datasources.FilePartition,
    key: org.apache.spark.sql.catalyst.InternalRow)
    extends InputPartition
    with org.apache.spark.sql.connector.read.HasPartitionKey {
  override def partitionKey(): org.apache.spark.sql.catalyst.InternalRow = key
  override def preferredLocations(): Array[String] = file.preferredLocations()
}

/** Batch planning for the storage-partitioned form: the same pushed
  * filters and split sizing as Spark's own [[FileScan]], but files
  * never pack ACROSS partition directories — each directory plans its
  * own (possibly several) [[GraftKeyedInputPartition]]s carrying the
  * directory's partition value, read through the untouched parquet
  * reader factory (a thin unwrap shim). Zone-map pruning and runtime
  * filters ride [[GraftPrunedFileIndex.listFiles]] unchanged.
  */
final class GraftKeyedBatch(spark: SparkSession,
    scan: org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan,
    fileIndex: GraftPrunedFileIndex,
    keyOf: org.apache.spark.sql.catalyst.InternalRow =>
      org.apache.spark.sql.catalyst.InternalRow = identity) extends Batch {

  override def planInputPartitions(): Array[InputPartition] = {
    import org.apache.spark.sql.execution.datasources.FilePartition
    val dirs = fileIndex.listFiles(scan.partitionFilters, scan.dataFilters)
    val maxSplit = FilePartition.maxSplitBytes(spark, dirs)
    val out = scala.collection.mutable.ArrayBuffer.empty[InputPartition]
    var idx = 0
    dirs.foreach { pd =>
      val splits = pd.files.flatMap { f =>
        org.apache.spark.sql.execution.PartitionedFileUtil.splitFiles(
          f, f.getPath, isSplitable = true, maxSplit, pd.values)
      }.sortBy(-_.length)
      val key = keyOf(pd.values)
      FilePartition.getFilePartitions(spark, splits, maxSplit).foreach { fp =>
        out += GraftKeyedInputPartition(
          FilePartition(idx, fp.files), key)
        idx += 1
      }
    }
    out.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new GraftKeyedReaderFactory(scan.toBatch.createReaderFactory())
}

/** Unwrap shim: the parquet reader factory sees the plain
  * [[FilePartition]] inside each keyed partition — columnar decisions
  * and readers are exactly the inner scan's.
  */
final class GraftKeyedReaderFactory(inner: PartitionReaderFactory)
    extends PartitionReaderFactory {
  private def unwrap(p: InputPartition): InputPartition = p match {
    case k: GraftKeyedInputPartition => k.file
    case other => other
  }
  override def supportColumnarReads(partition: InputPartition): Boolean =
    inner.supportColumnarReads(unwrap(partition))
  override def createColumnarReader(partition: InputPartition)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] =
    inner.createColumnarReader(unwrap(partition))
  override def createReader(partition: InputPartition)
      : PartitionReader[org.apache.spark.sql.catalyst.InternalRow] =
    inner.createReader(unwrap(partition))
}

/** Offsets are commit versions; `v` means "everything live at version v
  * has been emitted".
  */
final case class GraftOffset(v: Long) extends Offset {
  override def json(): String = v.toString
}

/** Micro-batch source tailing the commit log: batch (a, b] = the files
  * that ENTERED the live set between versions a and b (the manifest
  * diff — under replace semantics, the post-state of every touched
  * partition), planned and read through Spark's parquet reader factory.
  * The first batch from a fresh checkpoint is the full snapshot
  * ((0, head] = every live file). Offsets are persisted by the engine;
  * a restarted stream resumes at its last committed version and drains
  * only what committed since — exactly-once end-to-end when the sink is
  * idempotent (e.g. [[GraftTable.mergeBatch]] /
  * [[GraftTable.upsertReplaceBatch]]).
  */
final class GraftMicroBatchStream(spark: SparkSession, gt: GraftTable,
                                  tableSchema: StructType,
                                  ignoreDeletes: Boolean = false,
                                  startingVersion: Option[Long] = None)
    extends MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {

  /** Trigger.AvailableNow contract: pin "available" at trigger time —
    * versions committed after this point wait for the next run.
    */
  @volatile private var availableNowCap: Option[Long] = None
  override def prepareForTriggerAvailableNow(): Unit = {
    availableNowCap = Some(gt.currentVersion)
  }

  private def scanFor(files: Seq[String]): Scan = {
    // index over the FULL PHYSICAL schema (types the partition dirs,
    // incl. a synthetic table's hidden __gp; files carry physical
    // names); prune to the PUBLIC schema's physical rename so the
    // stream's rows match the table schema positionally
    val physTable = StructType(
      tableSchema.fields.map(f => f.copy(name = gt.physicalName(f.name))))
    val physData = StructType(
      physTable.fields.filterNot(_.name == gt.partitionCol))
    val fi = new InMemoryFileIndex(spark,
      files.map(f => new Path(s"${gt.path}/$f")),
      Map("basePath" -> gt.path), Some(gt.physicalReadSchema))
    val b = ParquetScanBuilder(spark, fi, physTable, physData,
      GraftSqlRead.emptyOptions)
    b.pruneColumns(physTable)
    b.build()
  }

  override def latestOffset(): Offset =
    GraftOffset(availableNowCap.getOrElse(gt.currentVersion))

  /** SupportsAdmissionControl form (required by the AvailableNow
    * trait): no rate limiting — every committed version up to the cap
    * is available.
    */
  override def latestOffset(start: Offset,
      limit: org.apache.spark.sql.connector.read.streaming.ReadLimit): Offset =
    latestOffset()
  // a fresh checkpoint starts at the full snapshot (offset 0), or at
  // .option("startingVersion", v) — "every change since v", the
  // exclusive anchor the batch `t__changes VERSION AS OF v` read uses
  override def initialOffset(): Offset =
    GraftOffset(startingVersion.getOrElse(0L))
  override def deserializeOffset(json: String): Offset =
    GraftOffset(json.trim.toLong)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[GraftOffset].v
    val e = end.asInstanceOf[GraftOffset].v
    if (e <= s) return Array.empty
    // an offset older than the vacuum horizon has no manifests left —
    // fail with the real cause, not a missing-file read error
    require(s == 0L || gt.hasVersion(s),
      s"table ${gt.path}: stream resume offset $s predates the vacuum " +
        "horizon — its history was reclaimed; restart from a fresh " +
        "checkpoint (full snapshot) or stop vacuuming under live streams")
    // deletion-vector commits INSIDE the batch range delete rows of
    // already-emitted files — a file-diff stream cannot retract them
    // (the delete-only-commit contract below, row-level form). Vectors
    // from BEFORE the stream position — including every vector under a
    // FRESH stream's snapshot batch (s = 0, nothing emitted yet) — are
    // fine: the snapshot/added files subtract them in-scan like any
    // batch read.
    require(s == 0L || !gt.hasDvCommitsInRange(s, e) || ignoreDeletes,
      s"table ${gt.path}: versions ($s, $e] contain deletion-vector " +
        "commits — the file-diff stream cannot emit row deletions; " +
        "consume deletes via readChangesRowsSince, or pass " +
        ".option(\"ignoreDeletes\", \"true\") to skip them")
    // Per-batch planning is O(changed files): the (s, e] delta
    // manifests record adds/drops directly (checkpoint versions carry
    // their own #cdelta) — neither endpoint's live list materializes.
    // Fallbacks: the snapshot batch (s = 0) IS the live list by
    // definition; a legacy (pre-#cdelta) checkpoint in range diffs the
    // two live lists like before.
    val (added, deleteOnlyDirs) =
      if (s == 0L) (gt.liveFilesAt(e), Set.empty[String])
      else gt.fileChangesInRange(s, e).getOrElse {
        val old = gt.liveFilesAt(s).toSet
        val live = gt.liveFilesAt(e)
        val add = live.filterNot(old)
        def dirOf(f: String) = f.split('/').dropRight(1).mkString("/")
        ((add: Seq[String]),
          (old -- live.toSet).map(dirOf) -- add.map(dirOf).toSet)
      }
    // a commit that DROPS a partition's files without re-adding any
    // (DELETE FROM / TRUNCATE / a keyed delete emptying it) cannot be
    // represented by a file-diff batch: the consumer would silently
    // keep the deleted rows. Refuse loudly unless the reader opted in
    // (.option("ignoreDeletes", true) — the Delta streaming contract).
    if (!ignoreDeletes && s > 0L)
      require(deleteOnlyDirs.isEmpty,
        s"table ${gt.path}: versions ($s, $e] removed partition(s) " +
          s"${deleteOnlyDirs.mkString(", ")} without rewriting them — the " +
          "file-diff stream cannot emit row deletions; consume deletes " +
          "via readChangesRowsSince, or pass .option(\"ignoreDeletes\", " +
          "\"true\") to skip them")
    if (added.isEmpty) Array.empty
    else {
      val parts = scanFor(added).toBatch.planInputPartitions()
      // vectors applicable at `e` restricted to THIS batch's files:
      // a snapshot batch over a DV'd table subtracts exactly what the
      // batch read subtracts
      val addedSet = added.toSet
      val dv = gt.dvPointersAt(e).filter { case (f, _) => addedSet.contains(f) }
      if (dv.isEmpty) parts else GraftDvRead.plan(parts, dv)
    }
  }

  // built ONCE per run (parquet reader factories are partition-
  // agnostic — schemas + conf only), not per batch: no live listing on
  // the batch path
  private lazy val cachedFactory
      : org.apache.spark.sql.connector.read.PartitionReaderFactory = {
    val v = gt.currentVersion
    val live = if (v > 0) gt.liveFilesAt(v) else Seq.empty
    val f = scanFor(live).toBatch.createReaderFactory()
    // streaming scans push no parquet filters, so the same factory
    // serves both partition kinds (position counting needs no clean
    // variant)
    val dv = new GraftDvReaderFactory(f, f)
    // SCHEMA-EVOLVED tables: the stream's declared output is the table
    // schema (evolved columns AFTER the partition column) but the
    // parquet readers produce (data columns ++ partition column)
    // positionally — reorder (zero-copy column-vector permutation on
    // the columnar path) whenever the two differ
    val scanOrder = tableSchema.fields.filterNot(_.name == gt.partitionCol) ++
      tableSchema.fields.filter(_.name == gt.partitionCol)
    if (scanOrder.map(_.name).toSeq == tableSchema.fields.map(_.name).toSeq) dv
    else new GraftReorderingReaderFactory(dv,
      scanOrder.map(_.dataType).toArray,
      tableSchema.fields.map(f => scanOrder.indexWhere(_.name == f.name)).toArray)
  }

  override def createReaderFactory(): org.apache.spark.sql.connector.read.PartitionReaderFactory =
    cachedFactory

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** Permutes reader output from scan order into the table's declared
  * order (`out(i) = scan(indices(i))`). Columnar reads permute the
  * COLUMN VECTOR array — zero copies, zero per-row work; row reads run
  * one codegen'd [[UnsafeProjection]] built task-side (the factory
  * ships to executors; projections are not serializable).
  */
final class GraftReorderingReaderFactory(
    inner: org.apache.spark.sql.connector.read.PartitionReaderFactory,
    scanTypes: Array[org.apache.spark.sql.types.DataType],
    indices: Array[Int])
    extends org.apache.spark.sql.connector.read.PartitionReaderFactory {

  override def supportColumnarReads(p: InputPartition): Boolean =
    inner.supportColumnarReads(p)

  override def createColumnarReader(p: InputPartition)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] = {
    val r = inner.createColumnarReader(p)
    new PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] {
      override def next(): Boolean = r.next()
      override def get(): org.apache.spark.sql.vectorized.ColumnarBatch = {
        val b = r.get()
        val cols = indices.map(b.column)
        new org.apache.spark.sql.vectorized.ColumnarBatch(
          cols.toArray[org.apache.spark.sql.vectorized.ColumnVector],
          b.numRows())
      }
      override def close(): Unit = r.close()
    }
  }

  override def createReader(p: InputPartition)
      : PartitionReader[org.apache.spark.sql.catalyst.InternalRow] = {
    val r = inner.createReader(p)
    val proj = org.apache.spark.sql.catalyst.expressions.UnsafeProjection
      .create(indices.toIndexedSeq.map(i =>
        org.apache.spark.sql.catalyst.expressions.BoundReference(
          i, scanTypes(i), nullable = true)))
    new PartitionReader[org.apache.spark.sql.catalyst.InternalRow] {
      override def next(): Boolean = r.next()
      override def get(): org.apache.spark.sql.catalyst.InternalRow =
        proj(r.get())
      override def close(): Unit = r.close()
    }
  }
}

/** An [[InMemoryFileIndex]] fixed to ONE version's live files, with the
  * table's zone-map/Bloom pruning applied to the pushed data filters in
  * `listFiles` — so Delta-style data skipping happens exactly where
  * every Spark file source applies partition pruning, and the planned
  * scan reads only files that may satisfy the predicates. Conservative:
  * only supported (attribute ⋈ literal) conjuncts prune; everything
  * else passes through (the residual filters run anyway).
  */
final class GraftPrunedFileIndex(spark: SparkSession, gt: GraftTable,
                                 version: Long, tableSchema: StructType)
    extends InMemoryFileIndex(spark,
      gt.liveFilesAt(version).map(f => new Path(s"${gt.path}/$f")),
      Map("basePath" -> gt.path), Some(tableSchema)) {

  /** RUNTIME (DPP) restrictions, installed by [[GraftScan.filter]]
    * after the join side materializes and BEFORE the engine re-plans
    * this scan's partitions: an extra candidate-file keep set (join
    * values probed through the zone-map/Bloom tiers) and extra
    * partition-directory filters (join values on the partition
    * column). Conservative supersets — the join itself still runs.
    */
  @volatile private[graft] var runtimeKeep: Option[Set[String]] = None
  @volatile private[graft] var runtimePartFilters: Seq[Expression] = Nil

  /** Candidate (table-relative) files for one conjunct, or None if the
    * conjunct does not constrain a prunable column in a supported form.
    * The translation ladder is SHARED with the mutation planners
    * ([[graft.operators.PredicatePruning]]): equality/range/IN through
    * the zone-map+Bloom tiers — IN/InSet lists up to
    * `BloomProbeMaxValues` Bloom-probe per value, larger lists prune
    * in one sorted zone-map pass (no cap).
    */
  private def candidates(e: Expression): Option[Set[String]] =
    graft.operators.PredicatePruning.candidates(gt, e, version)

  // one scan's planning asks listFiles more than once (statistics,
  // then partitions) — memoize the candidate sets per canonicalized
  // filter set so each distinct predicate resolves the snapshot and
  // probes its files once per scan
  private val candidateCache =
    scala.collection.mutable.Map.empty[Seq[Expression], Seq[Set[String]]]

  override def listFiles(partitionFilters: Seq[Expression],
                         dataFilters: Seq[Expression])
      : Seq[org.apache.spark.sql.execution.datasources.PartitionDirectory] = {
    // runtime partition filters ride the ENGINE's own partition-pruning
    // path (InMemoryFileIndex binds them to the partition schema by
    // name), so join-key values on the partition column skip whole
    // directories exactly like a static partition predicate
    val base = super.listFiles(partitionFilters ++ runtimePartFilters,
      dataFilters)
    val perConjunct = candidateCache.synchronized {
      candidateCache.getOrElseUpdate(dataFilters.map(_.canonicalized),
        dataFilters.flatMap(candidates))
    }
    val allKeeps = perConjunct ++ runtimeKeep.toSeq
    if (allKeeps.isEmpty) {
      if (runtimePartFilters.nonEmpty) { // gauge runtime DIR pruning too
        GraftSqlRead.lastTotalFiles.set(allFiles().size.toLong)
        GraftSqlRead.lastPlannedFiles.set(base.map(_.files.size.toLong).sum)
      }
      return base
    }
    val keep = allKeeps.reduce(_ intersect _)
    def relOf(p: Path): String =
      s"${p.getParent.getName}/${p.getName}"
    val pruned = base.map(pd =>
      pd.copy(files = pd.files.filter(f => keep.contains(relOf(f.getPath)))))
    GraftSqlRead.lastTotalFiles.set(
      if (runtimePartFilters.nonEmpty) allFiles().size.toLong
      else base.map(_.files.size.toLong).sum)
    GraftSqlRead.lastPlannedFiles.set(pruned.map(_.files.size.toLong).sum)
    pruned
  }
}
