package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.GraftSqlRead

import graft.SparkSpec
import graft.operators.{GraftTable, GraftTableMeta}

/** The DSv2 catalog: SQL-addressable GraftTables with zone-map/Bloom
  * file pruning riding inside the parquet scan, VERSION AS OF time
  * travel, SQL DDL, the deletion-vector guard, and the commit-log
  * streaming source with restart.
  */
class GraftCatalogSpec extends SparkSpec {
  import spark.implicits._

  private var n = 0
  /** Fresh catalog per test: catalog instances are cached by name per
    * session, so each test registers its own name over its own root.
    */
  private def freshCatalog(): (String, String) = {
    n += 1
    val root = Files.createTempDirectory("graft_cat").toString
    val cat = s"gcat_${System.nanoTime()}_$n"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    (cat, root)
  }

  private def seed(root: String, statsCols: Seq[String] = Seq("n")): GraftTable = {
    val dir = s"$root/db/t"
    val t = new GraftTable(spark, dir, keys = Seq("pk", "rk"),
      partitionCol = "day", statsCols = statsCols)
    t.createIfNotExists(
      Seq.empty[(String, String, String, Long)].toDF("day", "pk", "rk", "n").schema)
    GraftTableMeta.annotate(t)
    t
  }

  test("SQL SELECT over a registered table; zone-map pruning inside the scan; " +
    "pushed filters visible in the plan") {
    val (cat, root) = freshCatalog()
    val t = seed(root)
    // 4 range-disjoint files per partition on n → file-level skipping
    val rows = (0L until 400L).map(i => (s"d${i % 2}", "p", s"r$i", i)).toDF("day", "pk", "rk", "n")
    t.importOnce(rows)
    t.compactRange(8, Seq("n"))

    GraftSqlRead.lastPlannedFiles.set(-1)
    val df = spark.sql(s"SELECT rk, n FROM $cat.db.t WHERE n BETWEEN 100 AND 119")
    val got = df.as[(String, Long)].collect().toMap
    assert(got == (100L until 120L).map(i => s"r$i" -> i).toMap)
    // pruning actually planned fewer files than the live set
    val (planned, total) = (GraftSqlRead.lastPlannedFiles.get,
      GraftSqlRead.lastTotalFiles.get)
    assert(planned >= 1 && total >= 4 && planned < total,
      s"expected file skipping, planned=$planned total=$total")
    // the filter reached the parquet scan (row-group pushdown tier)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") &&
      (plan.contains("GreaterThanOrEqual(n,100)") || plan.contains("n >= 100")),
      s"filter not pushed:\n$plan")
  }

  test("VERSION AS OF reads the pinned live set; equality predicate uses " +
    "the point-lookup pruning path") {
    val (cat, root) = freshCatalog()
    val t = seed(root)
    t.importOnce(Seq(("d1", "p", "r1", 1L), ("d2", "p", "r2", 2L))
      .toDF("day", "pk", "rk", "n"))
    val v1 = t.currentVersion
    t.upsertReplace(Seq(("d1", "p", "r1", 100L)).toDF("day", "pk", "rk", "n"))

    assert(spark.sql(s"SELECT n FROM $cat.db.t WHERE rk = 'r1'")
      .as[Long].collect().toSeq == Seq(100L))
    assert(spark.sql(s"SELECT n FROM $cat.db.t VERSION AS OF $v1 WHERE rk = 'r1'")
      .as[Long].collect().toSeq == Seq(1L))
    // a missing version rejects loudly
    intercept[Exception](
      spark.sql(s"SELECT * FROM $cat.db.t VERSION AS OF 999").collect())
  }

  test("SQL DDL: CREATE TABLE / list / EXISTS / DROP; Scala mutations " +
    "visible through SQL") {
    val (cat, _) = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $cat.db2")
    spark.sql(s"""CREATE TABLE $cat.db2.ev (day STRING, pk STRING, rk STRING,
      n BIGINT) PARTITIONED BY (day)
      TBLPROPERTIES ('keys'='pk,rk', 'statsCols'='n')""")
    assert(spark.sql(s"SHOW TABLES IN $cat.db2").collect()
      .map(_.getString(1)).contains("ev"))
    // mutate through the Scala API on the SAME directory the catalog made
    val rootConf = spark.conf.get(s"spark.sql.catalog.$cat.root")
    val t = GraftTableMeta.open(spark, s"$rootConf/db2/ev").get
    t.importOnce(Seq(("d1", "p", "r1", 5L)).toDF("day", "pk", "rk", "n"))
    assert(spark.sql(s"SELECT n FROM $cat.db2.ev").as[Long].collect().toSeq == Seq(5L))
    spark.sql(s"DROP TABLE $cat.db2.ev")
    assert(!spark.sql(s"SHOW TABLES IN $cat.db2").collect()
      .map(_.getString(1)).contains("ev"))
  }

  test("empty table and post-evolution SELECT: zero live files still " +
    "resolves the full schema; evolved columns read as null via SQL") {
    val (cat, root) = freshCatalog()
    val t = seed(root)
    // empty table: partition column cannot be INFERRED from zero files
    val empty = spark.sql(s"SELECT * FROM $cat.db.t")
    assert(empty.columns.toSet == Set("day", "pk", "rk", "n"))
    assert(empty.count() == 0)
    // evolution mid-history: new column lands; old rows project null
    t.importOnce(Seq(("d1", "p", "r1", 1L)).toDF("day", "pk", "rk", "n"))
    t.upsertReplace(Seq(("d2", "p", "r2", 2L, "x"))
      .toDF("day", "pk", "rk", "n", "tag"))
    val got = spark.sql(s"SELECT rk, tag FROM $cat.db.t")
      .as[(String, Option[String])].collect().toMap
    assert(got == Map("r1" -> None, "r2" -> Some("x")))
  }

  test("deletion vectors are served IN-SCAN on the SQL path: SELECT " +
    "equals the Scala read, filters and time travel included") {
    val (cat, root) = freshCatalog()
    val t = seed(root)
    t.importOnce((0L until 40L).map(i =>
      (s"d${i % 2}", "p", s"r$i", i)).toDF("day", "pk", "rk", "n"))
    val vBefore = t.currentVersion
    t.deleteWhere(col("n") % 4 === 1)   // DV commit #1
    t.deleteWhere(col("n") === 38L)     // DV commit #2, same files
    def sqlSet(q: String) = spark.sql(q).as[(String, Long)].collect().toSet
    val viaScala = t.read.select("rk", "n").as[(String, Long)].collect().toSet
    assert(sqlSet(s"SELECT rk, n FROM $cat.db.t") == viaScala,
      "SQL scan over a DV'd version must equal the Scala DV-resolved read")
    assert(viaScala.size == 29, "10 + 1 rows deleted")
    // a pushed data filter over the DV'd scan: the clean whole-file
    // read re-evaluates residual filters bit-exactly
    assert(sqlSet(s"SELECT rk, n FROM $cat.db.t WHERE n BETWEEN 10 AND 20")
      == viaScala.filter(r => r._2 >= 10 && r._2 <= 20))
    // time travel BEFORE the deletes sees every row, through SQL
    assert(spark.sql(
      s"SELECT count(*) FROM $cat.db.t VERSION AS OF $vBefore")
      .as[Long].head() == 40L)
    // compaction purges the vectors; results unchanged
    t.compact(1)
    assert(sqlSet(s"SELECT rk, n FROM $cat.db.t") == viaScala)
  }

  test("deletion vectors under FILE SPLITTING: slices of a DV'd file " +
    "collapse to one whole-file read; clean slices keep their grouping") {
    val (cat, root) = freshCatalog()
    val t = seed(root)
    t.importOnce((0L until 2000L).map(i => (s"d${i % 2}", "p", s"r$i", i))
      .toDF("day", "pk", "rk", "n"))
    t.deleteWhere(col("n") % 3 === 0 && col("n") < 1000)
    val expect = t.read.select("rk", "n").as[(String, Long)].collect().toSet
    // force multi-slice planning: every parquet here is far larger
    // than 1 KB, so without the whole-file collapse the position
    // counting would start mid-file and desynchronize
    val saved = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try {
      spark.conf.set("spark.sql.files.maxPartitionBytes", "1024")
      val got = spark.sql(s"SELECT rk, n FROM $cat.db.t")
        .as[(String, Long)].collect().toSet
      assert(got == expect,
        s"split-file DV read diverged: ${got.size} vs ${expect.size} rows")
      assert(got.size == 2000 - 334, "334 rows deleted (n%3==0, n<1000)")
    } finally spark.conf.set("spark.sql.files.maxPartitionBytes", saved)
  }

  test("deletion-vector partitions ship POINTERS, not positions: plan " +
    "size is independent of deleted-row count; sidecar staging is reused") {
    val (cat, root) = freshCatalog()
    val t = seed(root)
    t.importOnce((0L until 20000L).map(i => (s"d${i % 2}", "p", s"r$i", i))
      .toDF("day", "pk", "rk", "n"))
    t.deleteWhere(col("n") % 2 === 1) // 10,000 deleted positions
    // driver-side form: relative file path -> sidecar PATH string,
    // bounded by DV'd-file count — never a position array
    val ptrs = t.dvPointersAt(t.currentVersion)
    assert(ptrs.nonEmpty && ptrs.values.forall(p =>
      java.nio.file.Files.exists(java.nio.file.Paths.get(p))))
    // a second resolution REUSES the staged set (deterministic key)
    assert(t.dvPointersAt(t.currentVersion) == ptrs)
    val resolved = java.nio.file.Paths.get(root, "db/t/_graft_log/dv/_resolved")
    assert(Option(resolved.toFile.listFiles()).get.count(_.isDirectory) == 1,
      "repeated planning must reuse one sidecar staging, not accumulate")
    // an INCOMPLETE staging (lost its _count manifest — crash or a
    // concurrent sweep) is reclaimed and restaged, never served partial
    val stagingDir = Option(resolved.toFile.listFiles()).get
      .find(_.isDirectory).get.toPath
    java.nio.file.Files.delete(stagingDir.resolve("_count"))
    val restaged = t.dvPointersAt(t.currentVersion)
    assert(restaged.keySet == ptrs.keySet,
      "restage after a lost completeness manifest must be complete")
    assert(java.nio.file.Files.exists(stagingDir.resolve("_count")))
    // a TRUNCATED sidecar (size no longer matches the content manifest)
    // is detected and the whole staging reclaims + restages — content
    // validation, not just file counting (r10 ADVICE)
    val victim = Option(stagingDir.toFile.listFiles()).get
      .filter(_.getName.endsWith(".pos")).minBy(_.getName).toPath
    val bytes = java.nio.file.Files.readAllBytes(victim)
    java.nio.file.Files.write(victim, bytes.dropRight(5)) // corrupt: %8 != 0
    val healed = t.dvPointersAt(t.currentVersion)
    assert(healed.keySet == ptrs.keySet,
      "restage after a corrupt sidecar must be complete")
    val healedFile = healed(java.net.URLDecoder.decode(
      victim.getFileName.toString.stripSuffix(".pos"), "UTF-8"))
    assert(java.nio.file.Files.size(java.nio.file.Paths.get(healedFile))
      == bytes.length, "the restaged sidecar must carry the full content")
    // the planned DV partitions serialize O(1): a pointer, not 10k longs
    val tbl = GraftSqlRead.table(spark, t, t.currentVersion)
      .asInstanceOf[org.apache.spark.sql.connector.catalog.SupportsRead]
    val parts = tbl.newScanBuilder(new org.apache.spark.sql.util.CaseInsensitiveStringMap(
      java.util.Collections.emptyMap[String, String]())).build().toBatch.planInputPartitions()
    val dvParts = parts.collect {
      case p: org.apache.spark.sql.graft.GraftDvInputPartition => p }
    assert(dvParts.nonEmpty, "a DV'd version must plan DV partitions")
    def serSize(o: AnyRef): Int = {
      val bos = new java.io.ByteArrayOutputStream()
      val oos = new java.io.ObjectOutputStream(bos)
      oos.writeObject(o); oos.close(); bos.size()
    }
    dvParts.foreach(p => assert(serSize(p) < 10 * 1024,
      s"DV partition serialized ${serSize(p)} B — positions are leaking " +
        "into the plan instead of staying task-side"))
    // and the read is still exact
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.t").as[Long].head() == 10000L)
    assert(spark.sql(s"SELECT sum(n) FROM $cat.db.t").as[Long].head() ==
      (0L until 20000L by 2).sum)
  }

  test("DV auto-compaction: dvFraction gauges DV'd files; crossing the " +
    "threshold rewrites ONLY the DV'd partitions, purges the vectors, " +
    "and an all-deleted partition drops entirely") {
    val (cat, root) = freshCatalog()
    val t = seed(root)
    t.importOnce((0L until 100L).map(i => (s"d${i % 4}", "p", s"r$i", i))
      .toDF("day", "pk", "rk", "n"))
    assert(t.dvFraction == 0.0)
    t.deleteWhere(col("n") % 4 === 1 && col("n") < 50) // rows live in d1 only
    assert(t.dvFraction > 0.0)
    // below the threshold: a no-op, vectors stay
    assert(!t.compactDvHeavy(maxFraction = 0.99))
    assert(t.hasDeletionVectorsAt(t.currentVersion))
    val beforeLive = t.liveFilesAt(t.currentVersion).toSet
    // above: rewrites exactly the DV'd partitions
    assert(t.compactDvHeavy(maxFraction = 0.01))
    val afterLive = t.liveFilesAt(t.currentVersion).toSet
    beforeLive.filterNot(_.startsWith("day=d1/")).foreach(f =>
      assert(afterLive.contains(f),
        s"DV compaction rewrote a vector-free partition's file $f"))
    assert(!t.hasDeletionVectorsAt(t.currentVersion) && t.dvFraction == 0.0,
      "compaction must purge the vectors")
    val expect = (0L until 100L).filterNot(i => i % 4 == 1 && i < 50)
      .map(i => s"r$i" -> i).toMap
    assert(spark.sql(s"SELECT rk, n FROM $cat.db.t")
      .as[(String, Long)].collect().toMap == expect)
    // a partition whose rows are ALL deleted drops entirely
    t.deleteWhere(col("day") === "d2")
    assert(t.compactDvHeavy(maxFraction = 0.0))
    assert(t.liveFilesAt(t.currentVersion).forall(!_.startsWith("day=d2/")),
      "an all-deleted partition must drop at compaction")
    assert(t.read.filter($"day" === "d2").count() == 0)
  }

  test("streaming over deletion vectors: a DV'd SNAPSHOT drains " +
    "subtracted; a mid-stream DV commit refuses unless ignoreDeletes") {
    val (cat, root) = freshCatalog()
    val t = seed(root)
    t.importOnce(Seq(("d1", "p", "r1", 1L), ("d1", "p", "r2", 2L),
      ("d2", "p", "r3", 3L)).toDF("day", "pk", "rk", "n"))
    t.deleteWhere(col("rk") === "r1") // vector BEFORE the stream starts
    def drain(ckpt: String, ignoreDeletes: Boolean): Set[(String, Long)] = {
      val acc = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long)]()
      val reader = spark.readStream
      val q = (if (ignoreDeletes) reader.option("ignoreDeletes", "true") else reader)
        .table(s"$cat.db.t").writeStream
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation", ckpt)
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          df.select("rk", "n").collect()
            .foreach(r => acc.add((r.getString(0), r.getLong(1)))); ()
        }
        .start()
      q.awaitTermination(60000)
      assert(!q.isActive)
      scala.jdk.CollectionConverters.CollectionHasAsScala(acc).asScala.toSet
    }
    val ckpt = Files.createTempDirectory("graft_dv_stream").toString
    assert(drain(s"$ckpt/a", ignoreDeletes = false)
      == Set("r2" -> 2L, "r3" -> 3L),
      "the snapshot batch must subtract pre-existing vectors")
    // a DV commit while the stream is down: resuming must refuse…
    t.deleteWhere(col("rk") === "r3")
    val e = intercept[Exception](drain(s"$ckpt/a", ignoreDeletes = false))
    assert(e.getMessage.contains("deletion-vector") ||
      Option(e.getCause).exists(_.getMessage.contains("deletion-vector")),
      s"got: ${e.getMessage}")
    // …and ignoreDeletes opts in to skipping them (no rows re-emitted:
    // the DV commit added no files)
    assert(drain(s"$ckpt/a", ignoreDeletes = true).isEmpty)
  }

  test("SQL writes: INSERT INTO appends, INSERT OVERWRITE replaces " +
    "atomically, DELETE FROM rewrites matched partitions and the table " +
    "stays SQL-scannable; time-travel snapshots reject writes") {
    val (cat, root) = freshCatalog()
    val t = seed(root)
    // schema order is (data cols..., partition col) — write by NAME
    spark.sql(s"INSERT INTO $cat.db.t (day, pk, rk, n) VALUES " +
      "('d1', 'p', 'r1', 1), ('d2', 'p', 'r2', 2)")
    assert(spark.sql(s"SELECT rk, n FROM $cat.db.t").as[(String, Long)]
      .collect().toSet == Set("r1" -> 1L, "r2" -> 2L))
    spark.sql(s"INSERT INTO $cat.db.t (day, pk, rk, n) VALUES ('d1', 'p', 'r3', 3)")
    val v2 = t.currentVersion
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.t").as[Long].head() == 3L)

    // DELETE FROM: matched rows go, others stay; since round 9 a
    // selective delete is a DELETION-VECTOR commit (zero files
    // rewritten — the DV-tolerant scan subtracts in-flight)
    val filesBefore = t.dataFileCount
    spark.sql(s"DELETE FROM $cat.db.t WHERE n >= 2 AND day = 'd1'")
    assert(spark.sql(s"SELECT rk FROM $cat.db.t").as[String].collect().toSet
      == Set("r1", "r2"))
    assert(t.dataFileCount == filesBefore,
      "a selective SQL DELETE must not rewrite or drop data files")
    assert(t.hasDeletionVectorsAt(t.currentVersion),
      "a selective SQL DELETE must land as a deletion vector")
    // history intact: pre-delete state travels
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.t VERSION AS OF $v2")
      .as[Long].head() == 3L)

    // INSERT OVERWRITE replaces the whole table in one commit (static
    // overwrite mode — the dynamic default plans a v2 dynamic write
    // this V1-backed table rejects)
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "static")
    try
      spark.sql(s"INSERT OVERWRITE $cat.db.t (day, pk, rk, n) VALUES ('d9', 'p', 'r9', 9)")
    finally
      spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    assert(spark.sql(s"SELECT rk, n FROM $cat.db.t").as[(String, Long)]
      .collect().toSet == Set("r9" -> 9L))
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.t VERSION AS OF $v2")
      .as[Long].head() == 3L, "overwrite must not destroy history")

    // a DELETE whose predicate matches nothing commits nothing
    val vBefore = t.currentVersion
    spark.sql(s"DELETE FROM $cat.db.t WHERE n = 12345")
    assert(t.currentVersion == vBefore)

    // TRUNCATE TABLE routes through deleteWhere(ALWAYS_TRUE): table
    // empties, history stays travelable
    spark.sql(s"TRUNCATE TABLE $cat.db.t")
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.t").as[Long].head() == 0L)
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.t VERSION AS OF $v2")
      .as[Long].head() == 3L)
  }

  test("streaming refuses delete-only commits loudly; ignoreDeletes opts " +
    "into skipping them") {
    val (cat, root) = freshCatalog()
    val t = seed(root)
    t.importOnce(Seq(("d1", "p", "r1", 1L), ("d2", "p", "r2", 2L))
      .toDF("day", "pk", "rk", "n"))
    val ckpt = Files.createTempDirectory("graft_stream_del").toString
    def drain(ignoreDeletes: Boolean): Set[String] = {
      val acc = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val rdr = spark.readStream
        .option("ignoreDeletes", ignoreDeletes.toString)
        .table(s"$cat.db.t")
      val q = rdr.writeStream
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation", ckpt)
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          df.select("rk").collect().foreach(r => acc.add(r.getString(0))); ()
        }
        .start()
      q.awaitTermination(60000)
      scala.jdk.CollectionConverters.CollectionHasAsScala(acc).asScala.toSet
    }
    assert(drain(ignoreDeletes = false) == Set("r1", "r2")) // snapshot
    // a delete-only commit (partition d2 dropped, nothing re-added)
    t.deleteByKeys(Seq(("p", "r2")).toDF("pk", "rk"))
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException](
      drain(ignoreDeletes = false))
    assert(e.getCause.getMessage.contains("removed partition"),
      e.getCause.getMessage)
    // opted in: the delete-only commit is skipped, the stream advances
    assert(drain(ignoreDeletes = true) == Set.empty)
    // and a NORMAL rewrite after it still flows
    t.upsertReplace(Seq(("d1", "p", "r1", 10L)).toDF("day", "pk", "rk", "n"))
    assert(drain(ignoreDeletes = false) == Set("r1"))
  }

  test("streaming source tails the commit log: snapshot first, then only " +
    "the manifest diff after a restart") {
    val (cat, root) = freshCatalog()
    val t = seed(root)
    t.importOnce(Seq(("d1", "p", "r1", 1L), ("d2", "p", "r2", 2L))
      .toDF("day", "pk", "rk", "n"))
    t.upsertReplace(Seq(("d1", "p", "r1", 10L)).toDF("day", "pk", "rk", "n"))

    val ckpt = Files.createTempDirectory("graft_stream_ckpt").toString
    // foreachBatch sink: the memory sink refuses checkpoint RECOVERY,
    // and recovery is exactly what the restart half tests
    def drain(): Set[(String, Long)] = {
      val acc = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long)]()
      val q = spark.readStream.table(s"$cat.db.t").writeStream
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation", ckpt)
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          df.select("rk", "n").collect()
            .foreach(r => acc.add((r.getString(0), r.getLong(1)))); ()
        }
        .start()
      q.awaitTermination(60000)
      assert(!q.isActive)
      scala.jdk.CollectionConverters.CollectionHasAsScala(acc).asScala.toSet
    }
    val snap = drain()
    assert(snap == Set("r1" -> 10L, "r2" -> 2L),
      s"first run must drain the full snapshot, got $snap")

    // two more commits while the stream is DOWN; restart drains only them
    t.upsertReplace(Seq(("d2", "p", "r2", 20L)).toDF("day", "pk", "rk", "n"))
    t.importOnce(Seq(("d3", "p", "r3", 3L)).toDF("day", "pk", "rk", "n"))
    val diff = drain()
    assert(diff == Set("r2" -> 20L, "r3" -> 3L),
      s"restart must drain only the manifest diff, got $diff")
    assert(!diff.exists(_._1 == "r1"), "untouched partition re-emitted")
  }

  test("CDC streaming (`t__changes`): drains a mutation history WITH " +
    "deletes as _change_type rows; restart resumes mid-history; batch " +
    "read refuses") {
    val (cat, root) = freshCatalog()
    val t = seed(root)
    t.importOnce(Seq(("d1", "p", "r1", 1L), ("d2", "p", "r2", 2L))
      .toDF("day", "pk", "rk", "n"))
    def drain(ckpt: String): Set[(String, Long, String)] = {
      val acc = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long, String)]()
      val q = spark.readStream.table(s"$cat.db.t__changes").writeStream
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation", ckpt)
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          df.select("rk", "n", "_change_type").collect()
            .foreach(r => acc.add((r.getString(0), r.getLong(1), r.getString(2)))); ()
        }
        .start()
      q.awaitTermination(120000)
      assert(!q.isActive)
      scala.jdk.CollectionConverters.CollectionHasAsScala(acc).asScala.toSet
    }
    val ckpt = Files.createTempDirectory("graft_cdc_stream").toString + "/c"
    // run 1: fresh checkpoint → snapshot as inserts
    assert(drain(ckpt) == Set(("r1", 1L, "insert"), ("r2", 2L, "insert")))
    // three commits while the stream is down: an update, a ROW-LEVEL
    // DV delete (file-diff streams refuse this), and an insert
    t.upsertReplace(Seq(("d1", "p", "r1", 10L)).toDF("day", "pk", "rk", "n"))
    t.deleteWhere(col("rk") === "r2")
    t.importOnce(Seq(("d3", "p", "r3", 3L)).toDF("day", "pk", "rk", "n"))
    val diff = drain(ckpt)
    assert(diff == Set(
      ("r1", 1L, "update_preimage"), ("r1", 10L, "update_postimage"),
      ("r2", 2L, "delete"),
      ("r3", 3L, "insert")), s"got $diff")
    // committed batches reclaim their staging
    val leftovers = Option(java.nio.file.Paths.get(t.path, "_graft_cdc")
      .toFile.listFiles()).map(_.length).getOrElse(0)
    assert(leftovers == 0, s"$leftovers staged CDC dirs leaked")
    // a partition-dropping DELETE also streams — as delete rows
    t.deleteByKeys(Seq(("r3")).toDF("rk").withColumn("pk", lit("p"))
      .select("pk", "rk"))
    assert(drain(ckpt) == Set(("r3", 3L, "delete")))
    // un-anchored batch SQL defaults to the full-history feed: the
    // pinned head snapshot as inserts (net-change semantics)
    val unanchored = spark.sql(
      s"SELECT pk, rk, n, _change_type FROM $cat.db.t__changes").collect()
      .map(r => (r.getString(1), r.getLong(2), r.getString(3))).toSet
    val snapshot = t.read.select("rk", "n").as[(String, Long)].collect()
      .map { case (rk, n) => (rk, n, "insert") }.toSet
    assert(unanchored == snapshot,
      s"un-anchored changes read must equal snapshot-as-inserts: $unanchored")
  }

  test("IN-list pruning at a checkpoint-backed version runs no Spark job") {
    val (cat, root) = freshCatalog()
    val t = seed(root)
    val rows = (0L until 400L).map(i => (s"d${i % 2}", "p", s"r$i", i))
      .toDF("day", "pk", "rk", "n")
    t.importOnce(rows)
    t.compactRange(8, Seq("n")) // 8 range-disjoint files on n
    // roll past a checkpoint: the version's chain bottoms on parquet
    for (i <- 0 until 8)
      t.upsertReplace(Seq((s"e$i", "p", s"x$i", 1000L + i)).toDF("day", "pk", "rk", "n"))
    val v = t.currentVersion
    val live = t.liveFilesAt(v) // the checkpoint is cached from here on
    var cand = Seq.empty[String]
    val jobs = jobsOf {
      cand = t.candidateFilesEqualsAnyVersioned("n", Seq(5L, 105L, 205L), v)
    }
    assert(jobs == 0, s"IN (3 values) pruning ran $jobs Spark jobs, expected 0")
    assert(cand.nonEmpty && cand.size < live.size,
      s"IN pruning stopped skipping files: ${cand.size} of ${live.size}")
    val got = spark.sql(
      s"SELECT rk, n FROM $cat.db.t WHERE n IN (5, 105, 205)")
      .as[(String, Long)].collect().toSet
    assert(got == Set(("r5", 5L), ("r105", 105L), ("r205", 205L)))
    assert(GraftSqlRead.lastPlannedFiles.get() < GraftSqlRead.lastTotalFiles.get(),
      s"IN pruning stopped skipping files: planned ${GraftSqlRead.lastPlannedFiles.get()}" +
        s" of ${GraftSqlRead.lastTotalFiles.get()}")
  }

  test("ALTER TABLE ADD COLUMNS evolves the sidecar: old rows project " +
    "typed null via SQL; new writes carry the column; non-ADD rejects") {
    val (cat, root) = freshCatalog()
    val t = seed(root)
    t.importOnce(Seq(("d1", "p", "r1", 1L)).toDF("day", "pk", "rk", "n"))
    spark.sql(s"ALTER TABLE $cat.db.t ADD COLUMNS (score DOUBLE, tag STRING)")
    // evolved schema visible through the catalog; old rows null
    val row = spark.sql(s"SELECT rk, score, tag FROM $cat.db.t").collect().head
    assert(row.getString(0) == "r1" && row.isNullAt(1) && row.isNullAt(2))
    // new writes carry it (explicit column list; partition col last)
    spark.sql(s"INSERT INTO $cat.db.t (day, pk, rk, n, score, tag) " +
      "VALUES ('d2', 'p', 'r2', 2, 0.5, 'x')")
    assert(spark.sql(s"SELECT tag FROM $cat.db.t WHERE rk = 'r2'")
      .as[String].collect().toSeq == Seq("x"))
    // same-name different-type re-add rejects; type CHANGE rejects
    intercept[Exception](
      spark.sql(s"ALTER TABLE $cat.db.t ADD COLUMNS (score STRING)"))
    intercept[Exception](
      spark.sql(s"ALTER TABLE $cat.db.t ALTER COLUMN n TYPE STRING"))
    // RENAME is supported since round 11 (metadata-only column mapping
    // — GraftColumnMapSpec covers it in depth)
    spark.sql(s"ALTER TABLE $cat.db.t RENAME COLUMN n TO m")
    assert(spark.table(s"$cat.db.t").columns.toSet ==
      Set("day", "pk", "rk", "m", "score", "tag"))
  }

  test("CREATE TABLE without PARTITIONED BY: full SQL lifecycle on one " +
    "synthetic partition; the hidden __gp column never surfaces") {
    val (cat, root) = freshCatalog()
    spark.sql(s"""CREATE TABLE $cat.db.u (id BIGINT, v STRING)
      TBLPROPERTIES ('keys'='id')""")
    spark.sql(s"INSERT INTO $cat.db.u (id, v) VALUES (1, 'a'), (2, 'b')")
    spark.sql(s"INSERT INTO $cat.db.u (id, v) VALUES (3, 'c')")
    assert(spark.table(s"$cat.db.u").columns.toSeq == Seq("id", "v"),
      "the synthetic partition column leaked into the schema")
    assert(spark.sql(s"SELECT * FROM $cat.db.u").columns.toSeq == Seq("id", "v"))
    spark.sql(s"UPDATE $cat.db.u SET v = 'B' WHERE id = 2")
    spark.sql(s"DELETE FROM $cat.db.u WHERE id = 1")
    Seq((3L, "C"), (4L, "d")).toDF("id", "v").createOrReplaceTempView("u_src")
    spark.sql(s"""MERGE INTO $cat.db.u t USING u_src s ON t.id = s.id
      WHEN MATCHED THEN UPDATE SET v = s.v
      WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.v)""")
    assert(spark.sql(s"SELECT id, v FROM $cat.db.u")
      .as[(Long, String)].collect().toSet ==
      Set((2L, "B"), (3L, "C"), (4L, "d")))
    // Scala API sees one derived partition; keyed semantics exact
    val gt = GraftTableMeta.open(spark, s"$root/db/u").get
    assert(gt.read.select(GraftTable.SyntheticPartition).distinct()
      .as[String].collect().toSeq == Seq("all"))
    gt.upsertReplace(Seq((4L, "D")).toDF("id", "v"))
    assert(spark.sql(s"SELECT v FROM $cat.db.u WHERE id = 4")
      .as[String].collect().toSeq == Seq("D"), "replace upsert must not duplicate")
  }

  test("CREATE TABLE with MULTIPLE partition columns composes them into " +
    "one synthetic path level; keyed mutations move rows consistently") {
    val (cat, root) = freshCatalog()
    spark.sql(s"""CREATE TABLE $cat.db.m (id BIGINT, day STRING,
        region STRING, v BIGINT)
      PARTITIONED BY (day, region) TBLPROPERTIES ('keys'='id')""")
    spark.sql(s"INSERT INTO $cat.db.m (id, day, region, v) VALUES " +
      "(1, 'd1', 'eu', 10), (2, 'd1', 'us', 20), (3, 'd2', 'eu', 30), " +
      "(4, 'd2', NULL, 40)")
    assert(spark.table(s"$cat.db.m").columns.toSeq ==
      Seq("id", "day", "region", "v"))
    val gt = GraftTableMeta.open(spark, s"$root/db/m").get
    // one physical partition per (day, region) combination, null-safe
    assert(gt.read.select(GraftTable.SyntheticPartition).distinct().count() == 4)
    // an UPDATE assigning a partition-source column MOVES the row —
    // the derived value must follow, or a later keyed rewrite strands it
    spark.sql(s"UPDATE $cat.db.m SET day = 'd9' WHERE id = 1")
    val moved = gt.read.filter($"id" === 1L)
      .select(GraftTable.SyntheticPartition).as[String].collect()
    assert(moved.length == 1 && moved.head.startsWith("d9"),
      s"derived partition did not follow the update: ${moved.toSeq}")
    // keyed replace on the moved row: exactly one copy survives
    gt.upsertReplace(Seq((1L, "d9", "eu", 11L)).toDF("id", "day", "region", "v"))
    assert(spark.sql(s"SELECT v FROM $cat.db.m WHERE id = 1")
      .as[Long].collect().toSeq == Seq(11L))
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.m").as[Long].head() == 4L)
  }

  test("streaming batch planned from DELTA manifests: a range CROSSING a " +
    "parquet checkpoint drains exactly the diff; resume below the " +
    "vacuum horizon fails with the real cause") {
    val (cat, root) = freshCatalog()
    val t = seed(root)
    t.importOnce(Seq(("d1", "p", "r1", 1L)).toDF("day", "pk", "rk", "n"))
    def drain(ckpt: String): Set[(String, Long)] = {
      val acc = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long)]()
      val q = spark.readStream.table(s"$cat.db.t").writeStream
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation", ckpt)
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          df.select("rk", "n").collect()
            .foreach(r => acc.add((r.getString(0), r.getLong(1)))); ()
        }
        .start()
      q.awaitTermination(120000)
      assert(!q.isActive)
      scala.jdk.CollectionConverters.CollectionHasAsScala(acc).asScala.toSet
    }
    val ckpt = Files.createTempDirectory("graft_delta_stream").toString + "/c"
    assert(drain(ckpt) == Set("r1" -> 1L))
    val sOff = t.currentVersion
    // commits v3..v9 while the stream is down — v8 rolls a parquet
    // checkpoint, so the (2, 9] batch range CROSSES it; the #cdelta
    // entries keep the delta replay exact
    for (i <- 0 until 7)
      t.upsertReplace(Seq((s"e$i", "p", s"x$i", 100L + i)).toDF("day", "pk", "rk", "n"))
    assert(t.currentVersion >= 8 && sOff < 8, "test must cross the v8 checkpoint")
    val diff = drain(ckpt)
    assert(diff == (0 until 7).map(i => (s"x$i", 100L + i)).toSet,
      s"range crossing a checkpoint mis-drained: $diff")
    // fileChangesInRange is what planned it (no legacy fallback)
    assert(t.fileChangesInRange(sOff, t.currentVersion).isDefined,
      "the checkpoint manifest lost its #cdelta record")
    // vacuum past the stream's offset → resume fails with 'horizon'
    t.upsertReplace(Seq(("zz", "p", "zz", 999L)).toDF("day", "pk", "rk", "n"))
    t.vacuum(1)
    val e = intercept[Exception](drain(ckpt))
    assert(e.getMessage.contains("vacuum horizon") ||
      Option(e.getCause).exists(_.getMessage.contains("vacuum horizon")),
      s"got: ${e.getMessage}")
  }

  test("CTAS + TRUNCATE: CREATE TABLE AS SELECT lands through the " +
    "catalog + V1 write; TRUNCATE TABLE empties in one commit with " +
    "history intact") {
    val (cat, root) = freshCatalog()
    Seq(("d1", "a", 1L), ("d2", "b", 2L), ("d2", "c", 3L))
      .toDF("day", "pk", "n").createOrReplaceTempView("ctas_src")
    spark.sql(s"""CREATE TABLE $cat.db.c TBLPROPERTIES ('keys'='pk')
      PARTITIONED BY (day) AS SELECT day, pk, n FROM ctas_src""")
    assert(spark.sql(s"SELECT pk, n FROM $cat.db.c")
      .as[(String, Long)].collect().toSet == Set(("a", 1L), ("b", 2L), ("c", 3L)))
    // unpartitioned CTAS too (synthetic partition)
    spark.sql(s"""CREATE TABLE $cat.db.c2 TBLPROPERTIES ('keys'='pk')
      AS SELECT pk, n FROM ctas_src""")
    assert(spark.table(s"$cat.db.c2").columns.toSeq == Seq("pk", "n"))
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.c2").as[Long].head() == 3L)
    // TRUNCATE = one commit; the pre-truncate state stays time-travelable
    val gt = GraftTableMeta.open(spark, s"$root/db/c").get
    val v = gt.currentVersion
    spark.sql(s"TRUNCATE TABLE $cat.db.c")
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.c").as[Long].head() == 0L)
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.c VERSION AS OF $v")
      .as[Long].head() == 3L)
  }

  test("TIMESTAMP AS OF resolves to the latest version committed at or " +
    "before the instant; pre-history timestamps reject") {
    val (cat, root) = freshCatalog()
    val t = seed(root)
    t.importOnce(Seq(("d1", "p", "r1", 1L)).toDF("day", "pk", "rk", "n"))
    Thread.sleep(1100) // manifest mtime granularity is a second on some FS
    val betweenMs = System.currentTimeMillis()
    Thread.sleep(1100)
    t.upsertReplace(Seq(("d1", "p", "r1", 2L)).toDF("day", "pk", "rk", "n"))
    val asOf = java.time.Instant.ofEpochMilli(betweenMs)
      .toString.replace("T", " ").stripSuffix("Z")
    assert(spark.sql(
      s"SELECT n FROM $cat.db.t TIMESTAMP AS OF '$asOf'")
      .as[Long].collect().toSeq == Seq(1L),
      "TIMESTAMP AS OF must pin the pre-update version")
    assert(spark.sql(s"SELECT n FROM $cat.db.t").as[Long].collect().toSeq
      == Seq(2L))
    val e = intercept[Exception](spark.sql(
      s"SELECT * FROM $cat.db.t TIMESTAMP AS OF '1999-01-01 00:00:00'").collect())
    assert(e.getMessage.contains("no version committed"), e.getMessage)
    // vacuum rewrites the oldest kept manifest — the commit CLOCK must
    // survive the rewrite or retained instants falsely reject
    t.vacuum(2)
    assert(spark.sql(
      s"SELECT n FROM $cat.db.t TIMESTAMP AS OF '$asOf'")
      .as[Long].collect().toSeq == Seq(1L),
      "vacuum's manifest rewrite lost the commit timestamp")
  }

  test("history: one metadata row per retained version — kind, commit " +
    "clock, delta sizes, markers; vacuum truncates it") {
    val (_, root) = freshCatalog()
    val t = seed(root)
    t.importOnce(Seq(("d1", "p", "r1", 1L)).toDF("day", "pk", "rk", "n"))
    t.deleteWhere(col("rk") === "r1")
    for (i <- 0 until 6)
      t.upsertReplace(Seq((s"e$i", "p", s"x$i", i.toLong)).toDF("day", "pk", "rk", "n"))
    val h = t.history.orderBy("version")
      .select("version", "kind", "files_added", "partitions_dropped", "markers")
      .collect()
    assert(h.map(_.getLong(0)).toSeq == t.versions, "one row per version")
    assert(h.head.getString(1) == "base") // v1 = createIfNotExists
    assert(h.exists(_.getString(1) == "checkpoint"), "v8 rolled a checkpoint")
    val dv = h.find(_.getSeq[String](4).contains("dv")).get
    assert(dv.getLong(2) == 0 && dv.getLong(3) == 0,
      "a DV commit adds and drops nothing")
    val imp = h(1) // the importOnce delta
    assert(imp.getString(1) == "delta" && imp.getLong(2) == 1L)
    // commit clock is monotone non-decreasing
    val ts = t.history.orderBy("version").select("commit_ts")
      .collect().map(_.getTimestamp(0).getTime)
    assert(ts.zip(ts.tail).forall { case (a, b) => a <= b })
    t.vacuum(2)
    assert(t.history.count() == 2, "vacuum truncates history")
  }

  test("CDC stream resume below the vacuum horizon fails with the real " +
    "cause, not a missing-manifest read error") {
    val (cat, root) = freshCatalog()
    val t = seed(root)
    t.importOnce(Seq(("d1", "p", "r1", 1L)).toDF("day", "pk", "rk", "n"))
    val ckpt = Files.createTempDirectory("graft_cdc_hzn").toString + "/c"
    def drain(): Unit = {
      val q = spark.readStream.table(s"$cat.db.t__changes").writeStream
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation", ckpt)
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          df.count(); ()
        }
        .start()
      q.awaitTermination(60000)
      assert(!q.isActive)
    }
    drain() // offset now at v2
    for (i <- 0 until 3)
      t.upsertReplace(Seq((s"e$i", "p", s"x$i", i.toLong)).toDF("day", "pk", "rk", "n"))
    t.vacuum(1) // horizon moves past the stream's offset
    val e = intercept[Exception](drain())
    assert(e.getMessage.contains("vacuum horizon") ||
      Option(e.getCause).exists(_.getMessage.contains("vacuum horizon")),
      s"got: ${e.getMessage}")
  }

  test("reserved names and positions reject: CREATE/RENAME to *__changes; " +
    "positioned ADD COLUMNS") {
    val (cat, root) = freshCatalog()
    seed(root)
    val e1 = intercept[Exception](spark.sql(
      s"""CREATE TABLE $cat.db.t__changes (id BIGINT, v STRING)
        TBLPROPERTIES ('keys'='id')"""))
    assert(e1.getMessage.contains("reserved"), e1.getMessage)
    val e2 = intercept[Exception](spark.sql(
      s"ALTER TABLE $cat.db.t RENAME TO db.x__changes"))
    assert(e2.getMessage.contains("reserved"), e2.getMessage)
    val e3 = intercept[Exception](spark.sql(
      s"ALTER TABLE $cat.db.t ADD COLUMNS (z INT FIRST)"))
    assert(e3.getMessage.contains("FIRST/AFTER") ||
      e3.getMessage.contains("position"), e3.getMessage)
  }

  test("batch change feed: SELECT … FROM t__changes VERSION AS OF v " +
    "equals readChangesRowsSince(v)") {
    val (cat, root) = freshCatalog()
    val t = seed(root)
    t.importOnce(Seq(("d1", "p", "r1", 1L), ("d2", "p", "r2", 2L))
      .toDF("day", "pk", "rk", "n"))
    val since = t.currentVersion
    t.upsertReplace(Seq(("d1", "p", "r1", 10L)).toDF("day", "pk", "rk", "n"))
    t.deleteWhere(col("rk") === "r2")
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.select("rk", "n", "_change_type")
        .as[(String, Long, String)].collect().toSet
    val viaSql = norm(spark.sql(
      s"SELECT * FROM $cat.db.t__changes VERSION AS OF $since"))
    assert(viaSql == norm(t.readChangesRowsSince(since)))
    assert(viaSql == Set(("r1", 1L, "update_preimage"),
      ("r1", 10L, "update_postimage"), ("r2", 2L, "delete")), s"got $viaSql")
  }

  test("history metadata table: SELECT … FROM t__history equals the " +
    "Scala history frame, plans as a LOCAL scan, and the name is reserved") {
    val (cat, root) = freshCatalog()
    val t = seed(root)
    t.importOnce(Seq(("d1", "p", "r1", 1L), ("d2", "p", "r2", 2L))
      .toDF("day", "pk", "rk", "n"))
    t.deleteWhere(col("n") === 1L) // a DV commit — 'dv' marker row
    t.upsertReplace(Seq(("d2", "p", "r2", 20L)).toDF("day", "pk", "rk", "n"))
    val df = spark.sql(s"SELECT version, kind, files_added, " +
      s"partitions_dropped, markers FROM $cat.db.t__history")
    val viaSql = df.collect().map(_.toSeq).toSet
    val viaScala = t.history.select("version", "kind", "files_added",
      "partitions_dropped", "markers").collect().map(_.toSeq).toSet
    assert(viaSql == viaScala, "SQL history must equal GraftTable.history")
    assert(viaSql.size == t.versions.size)
    // metadata-scale: a local scan, not a distributed file scan
    assert(df.queryExecution.executedPlan.toString.contains("LocalTableScan"),
      s"history must plan as a local scan:\n${df.queryExecution.executedPlan}")
    // the suffix is reserved at CREATE and RENAME
    intercept[Exception](spark.sql(
      s"""CREATE TABLE $cat.db.x__history (k STRING, day STRING)
        PARTITIONED BY (day) TBLPROPERTIES ('keys'='k')"""))
  }

  test("stored procedures: CALL graft.system.restore/vacuum/compact/" +
    "compact_dv run the maintenance ops and return summary rows; " +
    "SHOW PROCEDURES lists them") {
    val (cat, root) = freshCatalog()
    val t = seed(root)
    t.importOnce((0L until 100L).map(i => (s"d${i % 2}", "p", s"r$i", i))
      .toDF("day", "pk", "rk", "n"))
    val vGood = t.currentVersion
    t.upsertReplace(Seq(("d1", "p", "r1", 999L)).toDF("day", "pk", "rk", "n"))
    // restore back — the update disappears, history stays
    val res = spark.sql(s"CALL $cat.system.restore('db.t', $vGood)").collect()
    assert(res.head.getLong(1) == vGood && res.head.getLong(2) > vGood)
    assert(t.read.filter($"rk" === "r1").select("n").as[Long].head() == 1L)
    // a DV delete, then compact_dv through CALL (named arg + default)
    t.deleteWhere(col("n") < 10L)
    val cd = spark.sql(
      s"CALL $cat.system.compact_dv('db.t', max_fraction => 0.0)").collect()
    assert(cd.head.getBoolean(1) && cd.head.getDouble(2) > 0.0)
    assert(!t.hasDeletionVectorsAt(t.currentVersion))
    // compact with the parallelism default
    val cp = spark.sql(s"CALL $cat.system.compact('db.t')").collect()
    assert(cp.head.getInt(1) == t.dataFileCount)
    // dry_run reports what WOULD reclaim without touching anything
    val hist0 = t.history.count()
    val dr = spark.sql(
      s"CALL $cat.system.vacuum('db.t', dry_run => true)").collect().head
    assert(dr.getBoolean(3) && dr.getInt(4) >= 1,
      s"dry run should name reclaimable versions: $dr")
    assert(t.history.count() == hist0, "dry_run must not reclaim")
    // vacuum keeps 1 version; history truncates
    spark.sql(s"CALL $cat.system.vacuum('db.t')").collect()
    assert(t.history.count() == 1L)
    assert(t.read.count() == 90L, "maintenance must not change the data")
    // discoverability
    val procs = spark.sql(s"SHOW PROCEDURES IN $cat.system").collect()
      .map(_.toSeq.map(String.valueOf).mkString(" ")).mkString("\n")
    Seq("restore", "vacuum", "compact", "compact_dv", "compact_range")
      .foreach(p =>
        assert(procs.contains(p), s"SHOW PROCEDURES missing $p:\n$procs"))
  }

  test("column DEFAULT values: CREATE TABLE … DEFAULT fills omitted " +
    "INSERT columns; defaults survive the sidecar round-trip; " +
    "explicit DEFAULT keyword works") {
    val (cat, _) = freshCatalog()
    spark.sql(s"""CREATE TABLE $cat.db.dv (day STRING, pk STRING,
        n BIGINT DEFAULT 42, tag STRING DEFAULT 'none')
      PARTITIONED BY (day) TBLPROPERTIES ('keys'='pk')""")
    spark.sql(s"INSERT INTO $cat.db.dv (day, pk) VALUES ('d1', 'a')")
    spark.sql(s"INSERT INTO $cat.db.dv (day, pk, n) VALUES ('d1', 'b', 7)")
    // explicit column list (positional INSERTs on partitioned v2
    // tables take data-columns-then-partition order — the known trap)
    spark.sql(s"INSERT INTO $cat.db.dv (day, pk, n, tag) " +
      "VALUES ('d2', 'c', DEFAULT, 'x')")
    val got = spark.sql(s"SELECT pk, n, tag FROM $cat.db.dv").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
    assert(got == Set(("a", 42L, "none"), ("b", 7L, "none"),
      ("c", 42L, "x")), got.toString)
  }

  test("SHOW TBLPROPERTIES surfaces the table configuration, CHECK " +
    "constraints and column-mapping state — metadata only") {
    val (cat, root) = freshCatalog()
    val t = seed(root)
    t.importOnce(Seq(("d1", "p", "r1", 1L)).toDF("day", "pk", "rk", "n"))
    spark.sql(s"ALTER TABLE $cat.db.t RENAME COLUMN n TO cnt")
    spark.sql(s"ALTER TABLE $cat.db.t ADD CONSTRAINT posn CHECK (cnt >= 0)")
    val props = spark.sql(s"SHOW TBLPROPERTIES $cat.db.t").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props.get("keys").contains("pk,rk"), props.toString)
    assert(props.get("partitioning").contains("day"))
    assert(props.get("check.posn").exists(_.contains(">= 0")), props.toString)
    assert(props.get("columnMapping").contains("cnt->n"))
  }

  test("startingVersion streams: a plain table stream anchored at v " +
    "emits only post-v files; the __changes stream emits exactly " +
    "readChangesRowsSince(v); 0/absent keeps the snapshot convention") {
    val (cat, root) = freshCatalog()
    val t = seed(root)
    t.importOnce(Seq(("d1", "p", "r1", 1L), ("d2", "p", "r2", 2L))
      .toDF("day", "pk", "rk", "n"))
    val v1 = t.currentVersion
    t.upsertReplace(Seq(("d1", "p", "r1", 10L), ("d3", "p", "r3", 3L))
      .toDF("day", "pk", "rk", "n"))
    def drain(reader: org.apache.spark.sql.streaming.DataStreamReader,
              table: String, cols: Seq[String]): Set[Seq[Any]] = {
      val acc = new java.util.concurrent.ConcurrentLinkedQueue[Seq[Any]]()
      val q = reader.table(table).writeStream
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation",
          Files.createTempDirectory("graft_sv").toString)
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          df.select(cols.map(org.apache.spark.sql.functions.col): _*)
            .collect().foreach(r => acc.add(r.toSeq)); ()
        }.start()
      q.awaitTermination(60000)
      assert(!q.isActive)
      scala.jdk.CollectionConverters.CollectionHasAsScala(acc).asScala.toSet
    }
    // plain stream anchored at v1: only the post-v1 files (the d1
    // rewrite's post-state + d3's new file), never r2's untouched d2
    val anchored = drain(
      spark.readStream.option("startingVersion", v1.toString),
      s"$cat.db.t", Seq("rk", "n"))
    assert(anchored == Set(Seq("r1", 10L), Seq("r3", 3L)),
      s"anchored stream emitted $anchored")
    // changes stream anchored at v1 ≡ the row-level feed since v1
    val changed = drain(
      spark.readStream.option("startingVersion", v1.toString),
      s"$cat.db.t__changes", Seq("rk", "n", "_change_type"))
    val expect = t.readChangesRowsSince(v1)
      .select("rk", "n", "_change_type").collect().map(_.toSeq).toSet
    assert(changed == expect, s"changes stream: $changed vs $expect")
    // absent option keeps the full-snapshot convention
    val snap = drain(spark.readStream, s"$cat.db.t", Seq("rk", "n"))
    assert(snap == Set(Seq("r1", 10L), Seq("r2", 2L), Seq("r3", 3L)))
    // a malformed anchor rejects loudly
    intercept[Exception](drain(
      spark.readStream.option("startingVersion", "-3"),
      s"$cat.db.t", Seq("rk", "n")))
  }

  test("native streaming write: writeStream.toTable appends epochs " +
    "exactly-once; a same-checkpoint restart processes only new input; " +
    "a replayed epoch skips; staging reclaims") {
    val (cat, root) = freshCatalog()
    spark.sql(s"""CREATE TABLE $cat.db.sink (day STRING, pk STRING, n BIGINT)
      PARTITIONED BY (day) TBLPROPERTIES ('keys'='pk')""")
    val srcDir = Files.createTempDirectory("graft_swsrc").toString
    val ckpt = Files.createTempDirectory("graft_swckpt").toString
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "day STRING, pk STRING, n BIGINT")
    def tick(rows: Seq[(String, String, Long)]): Unit =
      rows.toDF("day", "pk", "n").coalesce(1)
        .write.mode("append").parquet(srcDir)
    def run(): Unit = {
      val q = spark.readStream.schema(schema).parquet(srcDir)
        .writeStream
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation", ckpt)
        .toTable(s"$cat.db.sink")
      q.awaitTermination(120000)
      assert(!q.isActive)
    }
    tick(Seq(("d1", "a", 1L), ("d2", "b", 2L)))
    run()
    def state() = spark.sql(s"SELECT pk, n FROM $cat.db.sink")
      .as[(String, Long)].collect().toSet
    assert(state() == Set("a" -> 1L, "b" -> 2L))
    val t = new GraftTable(spark, s"$root/db/sink", keys = Seq("pk"),
      partitionCol = "day")
    val v1 = t.currentVersion
    // restart on the SAME checkpoint: only NEW source files process
    tick(Seq(("d1", "c", 3L)))
    run()
    assert(state() == Set("a" -> 1L, "b" -> 2L, "c" -> 3L))
    // nothing new → an empty tick commits nothing
    run()
    assert(t.currentVersion > v1)
    val v2 = t.currentVersion
    run()
    assert(t.currentVersion == v2, "an empty restart must not commit")
    // staging reclaimed after every committed epoch
    val staging = java.nio.file.Paths.get(root, "db/sink/_graft_staging")
    val leftovers = Option(staging.toFile.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.startsWith("stream_"))
      .flatMap(d => Option(d.listFiles()).getOrElse(Array.empty))
    assert(leftovers.isEmpty,
      s"committed epochs must reclaim their staging: ${leftovers.mkString(", ")}")
    // the exactly-once core: a REPLAYED epoch (same appId + batchId —
    // the crash window between an epoch's table commit and its
    // checkpoint write) skips without re-appending
    val df = Seq(("d9", "z", 9L)).toDF("day", "pk", "n")
    assert(t.appendBatch("replay_app", 7L, df))
    val v3 = t.currentVersion
    assert(!t.appendBatch("replay_app", 7L, df), "a replayed epoch must skip")
    assert(t.currentVersion == v3)
    assert(t.appendBatch("replay_app", 8L, df.filter($"pk" =!= "z")
      .union(Seq(("d9", "y", 8L)).toDF("day", "pk", "n"))))
    // complete output mode rejects loudly
    val e = intercept[Exception] {
      val q = spark.readStream.schema(schema).parquet(srcDir)
        .groupBy($"day").count()
        .select($"day", lit("x").as("pk"), $"count".as("n"))
        .writeStream.outputMode("complete")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation",
          Files.createTempDirectory("graft_swc2").toString)
        .toTable(s"$cat.db.sink")
      q.awaitTermination(120000)
      throw new IllegalStateException(
        q.exception.map(_.toString).getOrElse("no failure"))
    }
    assert(e.getMessage.toLowerCase.contains("append") ||
      e.getMessage.toLowerCase.contains("complete"), e.getMessage)
  }

  test("ALTER TABLE ADD/DROP CONSTRAINT … CHECK: a SQL-added constraint " +
    "aborts a violating SQL INSERT atomically (no version, no files); " +
    "DROP re-allows; ADD against violating standing rows records nothing") {
    val (cat, root) = freshCatalog()
    val t = seed(root)
    t.importOnce(Seq(("d1", "p", "r1", 5L)).toDF("day", "pk", "rk", "n"))
    // ADD validates standing rows first: n >= 10 is violated → throws,
    // nothing recorded
    intercept[Exception](spark.sql(
      s"ALTER TABLE $cat.db.t ADD CONSTRAINT big CHECK (n >= 10)"))
    assert(t.checks.isEmpty, "a failed ADD CONSTRAINT must record nothing")
    spark.sql(s"ALTER TABLE $cat.db.t ADD CONSTRAINT pos CHECK (n >= 0)")
    assert(t.checks.keySet == Set("pos"))
    // a violating SQL INSERT aborts atomically
    val v0 = t.currentVersion
    val files0 = t.dataFileCount
    val e = intercept[Exception](spark.sql(
      s"INSERT INTO $cat.db.t (day, pk, rk, n) VALUES ('d1', 'p', 'r2', -1)"))
    assert(e.getMessage.contains("pos") || e.getMessage.toLowerCase
      .contains("check"), e.getMessage)
    assert(t.currentVersion == v0 && t.dataFileCount == files0,
      "a violating INSERT must commit no version and land no files")
    // a passing INSERT goes through
    spark.sql(s"INSERT INTO $cat.db.t (day, pk, rk, n) VALUES ('d1', 'p', 'r2', 7)")
    assert(t.read.count() == 2L)
    // DROP CONSTRAINT re-allows
    spark.sql(s"ALTER TABLE $cat.db.t DROP CONSTRAINT pos")
    assert(t.checks.isEmpty)
    spark.sql(s"INSERT INTO $cat.db.t (day, pk, rk, n) VALUES ('d1', 'p', 'r3', -1)")
    assert(t.read.count() == 3L)
    // dropping an unknown constraint without IF EXISTS rejects loudly
    intercept[Exception](spark.sql(
      s"ALTER TABLE $cat.db.t DROP CONSTRAINT nope"))
  }

  test("CALL graft.system.compact_range: SQL-only range clustering — " +
    "content invariant, and a clustered-column filter prunes files") {
    val (cat, root) = freshCatalog()
    val t = seed(root)
    t.importOnce((0L until 400L).map(i => (s"d${i % 2}", "p", s"r$i", i))
      .toDF("day", "pk", "rk", "n"))
    val before = spark.sql(s"SELECT rk, n FROM $cat.db.t")
      .as[(String, Long)].collect().toSet
    val out = spark.sql(
      s"CALL $cat.system.compact_range('db.t', 'n', buckets => 8)").collect()
    assert(out.head.getString(1) == "n" &&
      out.head.getInt(2) == t.dataFileCount)
    // content invariant
    assert(spark.sql(s"SELECT rk, n FROM $cat.db.t")
      .as[(String, Long)].collect().toSet == before)
    // the range-disjoint layout makes a clustered-column filter prune
    // at the FILE level
    val got = spark.sql(s"SELECT rk FROM $cat.db.t WHERE n BETWEEN 10 AND 20")
      .as[String].collect().toSet
    assert(got == (10L to 20L).map(i => s"r$i").toSet)
    assert(GraftSqlRead.lastPlannedFiles.get() < GraftSqlRead.lastTotalFiles.get(),
      s"compact_range layout did not prune: planned " +
        s"${GraftSqlRead.lastPlannedFiles.get()} of " +
        s"${GraftSqlRead.lastTotalFiles.get()}")
    // bad arguments reject loudly
    intercept[Exception](spark.sql(
      s"CALL $cat.system.compact_range('db.t', '')").collect())
  }

  test("DROP TABLE only deletes graft tables: a stranger directory under " +
    "the catalog root survives; cascade refuses it") {
    val (cat, root) = freshCatalog()
    seed(root)
    // an arbitrary directory that merely LOOKS like a table identifier
    val stranger = java.nio.file.Paths.get(root, "db", "not_a_table")
    Files.createDirectories(stranger)
    Files.writeString(stranger.resolve("precious.txt"), "do not delete")
    spark.sql(s"DROP TABLE IF EXISTS $cat.db.not_a_table")
    assert(Files.exists(stranger.resolve("precious.txt")),
      "DROP TABLE deleted a non-table directory")
    // the catalog-level guard directly (SQL may short-circuit on
    // tableExists before reaching dropTable)
    val tc = spark.sessionState.catalogManager.catalog(cat)
      .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
    assert(!tc.dropTable(org.apache.spark.sql.connector.catalog.Identifier
      .of(Array("db"), "not_a_table")), "dropTable returned true for a non-table")
    assert(Files.exists(stranger.resolve("precious.txt")),
      "catalog dropTable deleted a non-table directory")
    // cascade drop of the namespace refuses while the stranger is nested
    intercept[Exception] {
      spark.sql(s"DROP NAMESPACE $cat.db CASCADE")
    }
    assert(Files.exists(stranger.resolve("precious.txt")))
    // real tables still drop
    spark.sql(s"DROP TABLE $cat.db.t")
    assert(!Files.isDirectory(java.nio.file.Paths.get(root, "db", "t")))
  }

  test("meta sidecar round-trips hostile column names (quotes, brackets, " +
    "comma-quote sequences)") {
    val dir = Files.createTempDirectory("graft_meta").toString + "/t"
    val nasty = GraftTableMeta(
      keys = Seq("""k"1""", "k]2"), partitionCol = """p"[,"col""",
      statsCols = Seq("""a",b"""), bloomCols = Seq("""c\"d""", "e"),
      bloomBits = 256)
    GraftTableMeta.write(dir, nasty)
    assert(GraftTableMeta.read(dir).contains(nasty),
      s"round-trip corrupted: ${GraftTableMeta.read(dir)}")
    // plain names unchanged
    val plain = GraftTableMeta(Seq("pk", "rk"), "day", Seq("n"), Nil, 1024)
    GraftTableMeta.write(dir, plain)
    assert(GraftTableMeta.read(dir).contains(plain))
  }
}
