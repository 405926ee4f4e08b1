package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The parquet-backed keyed table: partitioned layout, import-once,
  * key-level upserts rewriting only touched partitions, keyed delete.
  */
class GraftTableSpec extends SparkSpec {
  import spark.implicits._

  private def freshTable(): GraftTable = {
    val dir = Files.createTempDirectory("graft_table").toString + "/t"
    new GraftTable(spark, dir, keys = Seq("pk", "rk"), partitionCol = "day")
  }

  private def rows(t: (String, String, String, Int)*) =
    t.toSeq.toDF("day", "pk", "rk", "n")

  test("createIfNotExists + read on an empty table") {
    val t = freshTable()
    t.createIfNotExists(rows().schema)
    assert(t.read.count() == 0)
    assert(t.read.columns.toSet == Set("day", "pk", "rk", "n"))
  }

  test("exists: an empty directory from a crashed write is NOT a table") {
    val t = freshTable()
    assert(!t.exists)
    // simulate a crashed write: the directory appears (even nested) but
    // no parquet data and no schema sidecar were committed
    Files.createDirectories(java.nio.file.Paths.get(t.path, "day=2021_01_01"))
    assert(!t.exists)
    // a committed create flips it
    t.createIfNotExists(rows().schema)
    assert(t.exists)
  }

  test("importOnce appends only new partitions (U2)") {
    val t = freshTable().createIfNotExists(rows().schema)
    t.importOnce(rows(("d1", "p", "r1", 1), ("d2", "p", "r1", 2)))
    t.importOnce(rows(("d2", "p", "r1", 99), ("d3", "p", "r1", 3))) // d2 already present
    val got = t.read.select("day", "n").as[(String, Int)].collect().toMap
    assert(got == Map("d1" -> 1, "d2" -> 2, "d3" -> 3))
  }

  test("importOnce: the null partition imports once; a repeated import commits no version") {
    val t = freshTable().createIfNotExists(rows().schema)
    val nul = null.asInstanceOf[String]
    t.importOnce(rows(("d1", "p", "r1", 1)))
    // no null partition is live yet: its rows import next to a new day
    t.importOnce(rows((nul, "p", "rA", 1), (nul, "q", "rB", 2),
      ("d1", "p", "r1", 99), ("d2", "p", "r1", 2)))
    val v = t.currentVersion
    val onDisk = dataFilesOnDisk(t)
    t.importOnce(rows((nul, "p", "rA", 1), (nul, "q", "rB", 2), ("d2", "p", "r1", 2)))
    t.importOnce(rows((nul, "x", "rZ", 7)))
    assert(t.currentVersion == v, "an import of live partitions only must not commit")
    assert(dataFilesOnDisk(t) == onDisk, "an import of live partitions only must not write")
    assert(t.read.select("day", "rk", "n").as[(String, String, Int)].collect().toSet ==
      Set((nul, "rA", 1), (nul, "rB", 2), ("d1", "r1", 1), ("d2", "r1", 2)))
  }

  test("upsertReplace rewrites only touched partitions, keyed winner") {
    val t = freshTable().createIfNotExists(rows().schema)
    t.importOnce(rows(("d1", "p", "r1", 1), ("d1", "p", "r2", 2), ("d2", "p", "r1", 3)))
    t.upsertReplace(rows(("d1", "p", "r1", 100), ("d1", "p", "r9", 9)))
    val got = t.read.select("day", "rk", "n").as[(String, String, Int)]
      .collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(got == Map(("d1", "r1") -> 100, ("d1", "r2") -> 2,
      ("d2", "r1") -> 3, ("d1", "r9") -> 9))
  }

  test("upsertReplace is idempotent on disk") {
    val t = freshTable().createIfNotExists(rows().schema)
    t.importOnce(rows(("d1", "p", "r1", 1)))
    t.upsertReplace(rows(("d1", "p", "r1", 7)))
    t.upsertReplace(rows(("d1", "p", "r1", 7)))
    assert(t.read.count() == 1)
    assert(t.read.select("n").as[Int].collect().head == 7)
  }

  /** Data files physically under the table directory, log excluded. */
  private def dataFilesOnDisk(t: GraftTable): Set[String] = {
    val root = java.nio.file.Paths.get(t.path)
    val s = Files.walk(root)
    try {
      val it = s.iterator()
      var out = Set.empty[String]
      while (it.hasNext) {
        val rel = root.relativize(it.next()).toString
        if (rel.endsWith(".parquet") && !rel.startsWith("_graft")) out += rel
      }
      out
    } finally s.close()
  }

  test("upsertReplace of rows identical to the stored ones commits no version and writes no file") {
    val t = freshTable().createIfNotExists(rows().schema)
    t.importOnce(rows(("d1", "p", "r1", 1), ("d1", "p", "r2", 2), ("d2", "q", "r1", 3)))
    val v = t.currentVersion
    val onDisk = dataFilesOnDisk(t)
    t.upsertReplace(rows(("d1", "p", "r2", 2), ("d2", "q", "r1", 3)))
    assert(t.currentVersion == v, "an upsert that changes no row must not commit")
    assert(dataFilesOnDisk(t) == onDisk, "an upsert that changes no row must not write")
    assert(t.read.count() == 3)
  }

  test("upsertReplace rewrites only the partitions where a row changes") {
    val t = freshTable().createIfNotExists(rows().schema)
    t.importOnce(rows(("d1", "a", "r1", 1), ("d2", "b", "r1", 2),
      ("d3", "c", "r1", 3), ("d3", "c", "r2", 4)))
    val before = t.liveFilesAt(t.currentVersion)
    // d1 identical, d2 changes a value, d3 gains a key next to identical rows
    t.upsertReplace(rows(("d1", "a", "r1", 1), ("d2", "b", "r1", 20),
      ("d3", "c", "r1", 3), ("d3", "c", "r9", 9)))
    val after = t.liveFilesAt(t.currentVersion)
    def in(fs: Seq[String], day: String) = fs.filter(_.startsWith(s"day=$day/")).toSet
    assert(in(after, "d1") == in(before, "d1"), "an unchanged partition must keep its files")
    assert(in(after, "d2") != in(before, "d2") && in(after, "d3") != in(before, "d3"))
    assert(t.read.select("day", "rk", "n").as[(String, String, Int)].collect().toSet ==
      Set(("d1", "r1", 1), ("d2", "r1", 20), ("d3", "r1", 3), ("d3", "r2", 4),
        ("d3", "r9", 9)))
  }

  test("deleteByKeys with no matching key commits no version") {
    val t = freshTable().createIfNotExists(rows().schema)
    t.importOnce(rows(("d1", "p", "r1", 1), ("d2", "q", "r1", 2)))
    val v = t.currentVersion
    t.deleteByKeys(Seq(("p", "r9"), ("x", "r1")).toDF("pk", "rk"))
    assert(t.currentVersion == v, "a no-match delete must not commit a version")
    t.deleteByKeys(Seq.empty[(String, String)].toDF("pk", "rk"))
    assert(t.currentVersion == v, "an empty key set must not commit a version")
    assert(t.read.count() == 2)
  }

  test("upsert and delete in the NULL partition skip unchanged rows and rewrite changed ones") {
    val t = freshTable().createIfNotExists(rows().schema)
    val nul = null.asInstanceOf[String]
    t.importOnce(rows((nul, "p", "rA", 1), (nul, "q", "rB", 2), ("d1", "z", "r1", 3)))
    val v = t.currentVersion
    t.upsertReplace(rows((nul, "p", "rA", 1)))
    assert(t.currentVersion == v, "an identical null-partition row changes nothing")
    t.upsertReplace(rows((nul, "p", "rA", 1), (nul, "p", "rC", 5)))
    assert(t.currentVersion == v + 1)
    assert(t.read.filter($"day".isNull).select("rk", "n").as[(String, Int)].collect().toMap
      == Map("rA" -> 1, "rB" -> 2, "rC" -> 5))
    t.deleteByKeys(Seq(("q", "rB")).toDF("pk", "rk"))
    assert(t.read.filter($"day".isNull).select("rk").as[String].collect().toSet
      == Set("rA", "rC"))
    assert(t.read.filter($"day" === "d1").count() == 1)
  }

  test("duplicate update keys resolve by tiebreak when one duplicate equals the stored row") {
    val t = freshTable().createIfNotExists(rows().schema)
    t.importOnce(rows(("d1", "p", "r1", 1), ("d2", "q", "r1", 7)))
    // the differing duplicate wins the tiebreak (n ascending)
    t.upsertReplace(rows(("d1", "p", "r1", 1), ("d1", "p", "r1", 0)), tiebreak = Seq("n"))
    // the stored-equal duplicate wins: content unchanged, still one row per key
    t.upsertReplace(rows(("d2", "q", "r1", 7), ("d2", "q", "r1", 8)), tiebreak = Seq("n"))
    assert(t.read.select("day", "n").as[(String, Int)].collect().sorted.toSeq
      == Seq(("d1", 0), ("d2", 7)))
  }

  test("upsertReplaceBatch of identical rows still advances txnVersion") {
    val t = freshTable().createIfNotExists(rows().schema)
    t.importOnce(rows(("d1", "p", "r1", 1)))
    val v = t.currentVersion
    assert(t.upsertReplaceBatch("app", 0L, rows(("d1", "p", "r1", 1))))
    assert(t.txnVersion("app") == 0L)
    assert(t.currentVersion == v + 1, "the batch marker commits on its own")
    assert(t.liveFilesAt(v + 1).toSet == t.liveFilesAt(v).toSet)
    assert(!t.upsertReplaceBatch("app", 0L, rows(("d1", "p", "r1", 9))),
      "a replayed batch must skip")
    assert(t.read.select("n").as[Int].collect().toSeq == Seq(1))
  }

  test("upsertMerge keeps stored values where the update carries defaults") {
    val t = freshTable().createIfNotExists(rows().schema)
    t.importOnce(rows(("d1", "p", "r1", 5)))
    // update carries the default 0 for n → stored 5 must survive
    t.upsertMerge(rows(("d1", "p", "r1", 0)), defaults = Map("n" -> 0))
    assert(t.read.select("n").as[Int].collect().toSeq == Seq(5))
  }

  test("deleteByKeys removes rows; emptied partitions disappear") {
    val t = freshTable().createIfNotExists(rows().schema)
    t.importOnce(rows(("d1", "p", "r1", 1), ("d1", "p", "r2", 2), ("d2", "p", "r1", 3)))
    t.deleteByKeys(Seq(("p", "r1")).toDF("pk", "rk")) // hits d1 AND d2; d2 becomes empty
    val got = t.read.select("day", "rk").as[(String, String)].collect().toSet
    assert(got == Set(("d1", "r2")))
  }

  test("deleteByKeys drops emptied partitions at manifest level — untouched partitions are not rewritten") {
    val t2 = freshTable().createIfNotExists(rows().schema)
    t2.importOnce(rows(("d1", "a", "r1", 1), ("d1", "a", "r2", 2),
      ("d2", "b", "r1", 3), ("d3", "c", "r1", 4)))
    def files2(day: String) = {
      val d = new java.io.File(s"${t2.path}/day=$day")
      if (!d.exists) Set.empty[(String, Long)]
      else d.listFiles.filter(_.getName.endsWith(".parquet"))
        .map(f => (f.getName, f.lastModified)).toSet
    }
    val d3b = files2("d3")
    val preDelete = t2.currentVersion
    // empties d2 entirely, partially deletes d1, leaves d3 untouched
    t2.deleteByKeys(Seq(("a", "r1"), ("b", "r1")).toDF("pk", "rk"))
    assert(t2.read.select("day", "rk").as[(String, String)].collect().toSet
      == Set(("d1", "r2"), ("d3", "r1")))
    assert(files2("d3") == d3b, "untouched partition files must not be rewritten")
    // the emptied partition is INVISIBLE now but still time-travels
    assert(t2.readAt(preDelete).filter($"day" === "d2").count() == 1)
    // vacuum reclaims history: d2's files (referenced only by dropped
    // versions) physically disappear, directory included
    t2.vacuum(keepVersions = 1)
    assert(!new java.io.File(s"${t2.path}/day=d2").exists,
      "vacuumed emptied partition dir must be gone")
    assert(t2.read.select("day", "rk").as[(String, String)].collect().toSet
      == Set(("d1", "r2"), ("d3", "r1")), "vacuum must not change the live table")
  }

  test("deleteByKeys on a NULL partition value: partial delete keeps survivors, full delete empties the default partition") {
    val t = freshTable().createIfNotExists(rows().schema)
    t.importOnce(Seq((null.asInstanceOf[String], "p", "rA", 1),
      (null.asInstanceOf[String], "q", "rB", 2), ("d1", "z", "r1", 3))
      .toDF("day", "pk", "rk", "n"))
    val defaultDir = new java.io.File(s"${t.path}/day=__HIVE_DEFAULT_PARTITION__")
    assert(defaultDir.exists)
    // partial: only rA deleted — rB must SURVIVE in the null partition
    t.deleteByKeys(Seq(("p", "rA")).toDF("pk", "rk"))
    assert(t.read.filter($"day".isNull).select("rk").as[String].collect().toSeq == Seq("rB"))
    // full: rB deleted too — the null partition reads empty, and after
    // vacuum its default dir is physically reclaimed
    t.deleteByKeys(Seq(("q", "rB")).toDF("pk", "rk"))
    assert(t.read.filter($"day".isNull).count() == 0)
    t.vacuum(keepVersions = 1)
    assert(!defaultDir.exists, "vacuumed null partition dir must be gone")
    assert(t.read.select("rk").as[String].collect().toSeq == Seq("r1"))
  }

  test("version history: every mutation commits a version, readAt time-travels, vacuum bounds it") {
    val t = freshTable().createIfNotExists(rows().schema)
    assert(t.currentVersion == 1L, "create commits the empty v1")
    t.importOnce(rows(("d1", "p", "r1", 1), ("d2", "p", "r1", 2)))
    val v2 = t.currentVersion
    t.upsertReplace(rows(("d1", "p", "r1", 100)))
    val v3 = t.currentVersion
    t.deleteByKeys(Seq(("p", "r1")).toDF("pk", "rk"))
    val v4 = t.currentVersion
    assert(Seq(v2, v3, v4) == Seq(2L, 3L, 4L))
    assert(t.readAt(1L).count() == 0)
    assert(t.readAt(v2).select("day", "n").as[(String, Int)].collect().toMap
      == Map("d1" -> 1, "d2" -> 2))
    assert(t.readAt(v3).select("day", "n").as[(String, Int)].collect().toMap
      == Map("d1" -> 100, "d2" -> 2))
    assert(t.readAt(v4).count() == 0)
    assert(t.read.count() == 0, "read == readAt(latest)")
    // compaction preserves history: pre-compaction versions still read
    t.importOnce(rows(("d3", "p", "r1", 7)))
    t.compact()
    assert(t.readAt(v3).select("day", "n").as[(String, Int)].collect().toMap
      == Map("d1" -> 100, "d2" -> 2), "history must survive compaction")
    // vacuum keeps only the latest; dropped versions stop resolving
    t.vacuum(keepVersions = 1)
    assert(t.versions.size == 1)
    intercept[IllegalArgumentException](t.readAt(v3))
    assert(t.read.select("day", "n").as[(String, Int)].collect().toMap
      == Map("d3" -> 7))
  }

  test("partition pruning and column pruning survive the manifest read") {
    val t = freshTable().createIfNotExists(rows().schema)
    t.importOnce(rows(("d1", "a", "r1", 1), ("d2", "b", "r1", 2), ("d3", "c", "r1", 3)))
    val q = t.read.filter($"day" === "d2").select("n")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(day"),
      s"day filter must prune partitions in the explicit-file scan:\n$plan")
    assert(!plan.contains("ReadSchema: struct<day"),
      s"projection must prune columns:\n$plan")
    assert(q.as[Int].collect().toSeq == Seq(2))
  }

  test("legacy table without a version log upgrades in place on first mutation") {
    val dir = Files.createTempDirectory("graft_legacy").toString + "/t"
    // files written by plain Spark, no manifest, no sidecar
    rows(("d1", "p", "r1", 1)).write.partitionBy("day").parquet(dir)
    val t = new GraftTable(spark, dir, keys = Seq("pk", "rk"), partitionCol = "day")
    assert(t.currentVersion == 0L)
    assert(t.read.select("n").as[Int].collect().toSeq == Seq(1))
    t.importOnce(rows(("d2", "p", "r1", 2)))
    // baseline v1 = the legacy snapshot, v2 = the import
    assert(t.currentVersion == 2L)
    assert(t.readAt(1L).select("n").as[Int].collect().toSeq == Seq(1))
    assert(t.read.select("n").as[Int].collect().toSet == Set(1, 2))
  }

  test("table writes do not mutate the session's partitionOverwriteMode") {
    val key = "spark.sql.sources.partitionOverwriteMode"
    val before = spark.conf.get(key)
    try {
      // a caller relying on STATIC overwrite for its own writes must see
      // its setting untouched after table mutations (which use a
      // per-write option for dynamic semantics)
      spark.conf.set(key, "static")
      val t = freshTable().createIfNotExists(rows().schema)
      t.importOnce(rows(("d1", "p", "r1", 1), ("d2", "q", "r2", 2)))
      t.upsertReplace(rows(("d1", "p", "r1", 10)))
      t.deleteByKeys(Seq(("p", "r1")).toDF("pk", "rk"))
      assert(spark.conf.get(key) == "static")
      // and the mutations still behaved dynamically: d2 survived the
      // d1-only upsert
      assert(t.read.where(col("day") === "d2").count() == 1)
    } finally spark.conf.set(key, before)
  }

  test("compact collapses fragmented partitions to one file each; content invariant") {
    val t = freshTable().createIfNotExists(rows().schema)
    // five separate upserts fragment the same partitions repeatedly
    (1 to 5).foreach(i => t.importOnce(rows((s"d$i", "p", s"r$i", i))))
    (1 to 5).foreach(i => t.upsertReplace(rows((s"d$i", "p", s"r$i", i * 10))))
    val before = t.read.collect().map(_.toSeq).toSet
    val filesBefore = t.dataFileCount
    t.compact()
    assert(t.read.collect().map(_.toSeq).toSet === before, "content must not change")
    val filesAfter = t.dataFileCount
    assert(filesAfter == 5, s"one file per partition expected, got $filesAfter")
    assert(filesAfter <= filesBefore)
  }

  test("commit I/O is independent of table file count: no full tree walk, delta manifests, periodic checkpoint") {
    val t = freshTable().createIfNotExists(rows().schema)
    // accumulate many files/versions; a created table must NEVER walk
    // the data tree — added files come from the per-commit staging dir
    (1 to 12).foreach(i => t.upsertReplace(rows((s"d${i % 3}", "p", s"r$i", i))))
    assert(t.fullTreeWalks == 0L,
      s"commits walked the full data tree ${t.fullTreeWalks} times")
    // manifest shapes: full at v8 (checkpoint cadence), delta elsewhere
    def manifestText(v: Long) = java.nio.file.Files.readString(
      java.nio.file.Paths.get(t.path, "_graft_log", f"v$v%06d.json"))
    assert(!manifestText(8L).contains("#delta"), "v8 must be a full checkpoint")
    assert(manifestText(7L).contains("#delta") && manifestText(13L).contains("#delta"),
      "between checkpoints commits must be deltas")
    // delta replay across the checkpoint boundary reconstructs exactly
    // the files on disk that are live — and read() sees every row
    val got = t.read.select("day", "rk", "n").as[(String, String, Int)]
      .collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(got == (1 to 12).map(i => (s"d${i % 3}", s"r$i") -> i).toMap)
    // every manifest-listed file exists; no live file is listed twice
    val live = t.readAt(t.currentVersion)
    assert(live.count() == 12)
  }

  test("schema evolution: new columns append nullable, old versions project null, missing columns pad") {
    val t = freshTable().createIfNotExists(rows().schema)
    t.importOnce(rows(("d1", "p", "r1", 1)))
    val v1 = t.currentVersion
    // upsert with a NEW column 'extra' → schema evolves in place
    t.upsertReplace(Seq(("d1", "p", "r2", 2, "hello"), ("d2", "q", "r9", 3, "world"))
      .toDF("day", "pk", "rk", "n", "extra"))
    // partitioned scans emit data columns then the partition column
    assert(t.read.columns.toSet == Set("day", "pk", "rk", "n", "extra"))
    val got = t.read.select("rk", "extra").as[(String, Option[String])]
      .collect().toMap
    assert(got == Map("r1" -> None, "r2" -> Some("hello"), "r9" -> Some("world")),
      "pre-evolution rows must read the new column as null")
    // TIME TRAVEL across the evolution boundary: the old version reads
    // through the evolved schema with nulls
    assert(t.readAt(v1).columns.toSet == Set("day", "pk", "rk", "n", "extra"))
    assert(t.readAt(v1).select("extra").as[Option[String]].collect().toSeq
      == Seq(None))
    // a later mutation MISSING the evolved column pads it with null
    t.upsertReplace(rows(("d2", "p", "r10", 9)))
    assert(t.read.filter($"rk" === "r10").select("extra")
      .as[Option[String]].collect().toSeq == Seq(None))
    assert(t.read.filter($"rk" === "r9").select("extra")
      .as[Option[String]].collect().toSeq == Seq(Some("world")),
      "an update without the evolved column must not clobber same-partition stored values")
    assert(t.read.filter($"rk" === "r2").select("extra")
      .as[Option[String]].collect().toSeq == Seq(Some("hello")),
      "padding a missing column must not clobber stored values in other rows")
    // guard rails: type change rejected; key/partition columns required
    intercept[IllegalArgumentException](t.upsertReplace(
      Seq(("d1", "p", "r1", "not-an-int")).toDF("day", "pk", "rk", "n")))
    intercept[IllegalArgumentException](t.upsertReplace(
      Seq(("p", "r1", 5)).toDF("pk", "rk", "n")))
  }

  test("optimistic concurrency: of two writers on the same base exactly one wins; loser's files are not orphaned") {
    val t = freshTable().createIfNotExists(rows().schema)
    t.importOnce(rows(("d1", "p", "r1", 1)))
    val base = t.currentVersion
    // writer A commits normally
    t.upsertReplace(rows(("d1", "p", "r1", 100)))
    assert(t.currentVersion == base + 1)
    // writer B raced: same read snapshot (base), commits after A — the
    // exclusive manifest link must fail and B's data files must be
    // cleaned up (they are in no manifest)
    val before = t.read.collect().map(_.toSeq).toSet
    val b = new GraftTable(spark, t.path, t.keys, t.partitionCol)
    val e = intercept[CommitConflictException](
      b.commitRewriteAt(rows(("d1", "p", "r1", 999)), Seq(Some("d1")), base))
    assert(e.getMessage.contains("another writer"))
    assert(t.currentVersion == base + 1, "loser must not advance the version")
    assert(t.read.collect().map(_.toSeq).toSet == before,
      "loser must not change the live table")
    // no orphans: every parquet file on disk is referenced by some
    // kept manifest (B deleted its freshly-written files on conflict)
    val onDisk = {
      def walk(f: java.io.File): Seq[String] =
        if (f.isDirectory) {
          if (f.getName.startsWith("_")) Seq.empty
          else Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap(walk)
        } else if (f.getName.endsWith(".parquet"))
          Seq(java.nio.file.Paths.get(t.path).relativize(f.toPath).toString)
        else Seq.empty
      walk(new java.io.File(t.path)).toSet
    }
    val referenced = t.versions.flatMap(v => t.readAt(v).inputFiles.map(p =>
      java.nio.file.Paths.get(t.path).relativize(
        java.nio.file.Paths.get(new java.net.URI(p).getPath)).toString)).toSet
    assert(onDisk == referenced,
      s"orphaned files on disk: ${(onDisk -- referenced).mkString(", ")}")
  }

  test("readChangesSince: manifest-diff CDC feeds only touched partitions; empty at head") {
    val s = spark
    import s.implicits._
    val t = freshTable().createIfNotExists(rows().schema)
    t.importOnce(rows(("d1", "p", "r1", 1), ("d2", "q", "r2", 2)))
    val v2 = t.currentVersion
    // touch ONLY d1: changes since v2 must be d1's full post-state —
    // the untouched d2 contributes nothing
    t.upsertReplace(rows(("d1", "p", "r9", 9)))
    val got = t.readChangesSince(v2).select("day", "rk", "n")
      .as[(String, String, Int)].collect().toSet
    assert(got == Set(("d1", "r1", 1), ("d1", "r9", 9)),
      s"changes must be the touched partition's new files only, got $got")
    // at the head there are no changes; out-of-range versions rejected
    assert(t.readChangesSince(t.currentVersion).count() == 0L)
    intercept[IllegalArgumentException](t.readChangesSince(0L))
    intercept[IllegalArgumentException](t.readChangesSince(t.currentVersion + 1))
  }

  test("clustered compaction sorts inside each partition file; content invariant") {
    val s = spark
    import s.implicits._
    val t = freshTable().createIfNotExists(rows().schema)
    // interleaved rk order across two upserts → unsorted files
    t.importOnce(rows(("d1", "p", "r9", 9), ("d1", "p", "r1", 1)))
    t.upsertReplace(rows(("d1", "p", "r5", 5), ("d1", "q", "r3", 3)))
    val before = t.read.collect().map(_.toSeq).toSet
    t.compact(parallelism = 4, clusterBy = Seq("rk"))
    assert(t.read.collect().map(_.toSeq).toSet === before, "content must not change")
    assert(t.dataFileCount == 1)
    // drop history so the partition dir holds only the LIVE rewritten
    // file, which must be physically sorted by rk (parquet preserves
    // row order within a file)
    t.vacuum(keepVersions = 1)
    val file = new java.io.File(s"${t.path}/day=d1").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val inFile = s.read.parquet(file.getPath).select("rk").as[String]
      .collect().toSeq
    assert(inFile == inFile.sorted, s"file rows must be rk-sorted: $inFile")
  }

  test("vacuum sweeps orphans from crashed commits; retryOnConflict re-runs losers") {
    val t = freshTable().createIfNotExists(rows().schema)
    t.importOnce(rows(("d1", "p", "r1", 1), ("d2", "q", "r2", 2)))
    val before = t.read.collect().map(_.toSeq).toSet
    // simulate a commit that died between moving its files and linking
    // its manifest: a data file in a partition dir that NO manifest
    // references, plus a stale staging dir
    val orphan = java.nio.file.Paths.get(t.path, "day=d1", "c_dead-orphan.parquet")
    java.nio.file.Files.writeString(orphan, "not really parquet")
    val staleStage = java.nio.file.Paths.get(t.path, "_graft_staging", "c_dead")
    java.nio.file.Files.createDirectories(staleStage)
    java.nio.file.Files.writeString(staleStage.resolve("part-0.parquet"), "x")
    // invisible to reads (not in any manifest) but leaking storage
    assert(t.read.collect().map(_.toSeq).toSet == before)
    t.vacuum(keepVersions = 10) // nothing to drop — the sweep alone runs
    assert(!java.nio.file.Files.exists(orphan), "orphan data file must be swept")
    assert(!java.nio.file.Files.exists(staleStage), "stale staging dir must be swept")
    assert(t.read.collect().map(_.toSeq).toSet == before, "live data untouched")
    // retryOnConflict: a loser that re-runs succeeds; exhaustion rethrows
    var failures = 2
    val got = GraftTable.retryOnConflict(maxAttempts = 3) {
      if (failures > 0) { failures -= 1; throw new CommitConflictException("race") }
      42
    }
    assert(got == 42 && failures == 0)
    intercept[CommitConflictException](GraftTable.retryOnConflict(maxAttempts = 2) {
      throw new CommitConflictException("always")
    })
    intercept[IllegalArgumentException](
      GraftTable.retryOnConflict(maxAttempts = 0)(1))
  }

  test("upsertReplace into the NULL partition keeps that partition's unrelated rows (null-safe touched join)") {
    val t = freshTable().createIfNotExists(rows().schema)
    t.importOnce(Seq((null.asInstanceOf[String], "p", "rA", 1),
      (null.asInstanceOf[String], "q", "rB", 2), ("d1", "z", "r1", 3))
      .toDF("day", "pk", "rk", "n"))
    // upsert touches ONLY the null partition's rA; rB must survive the
    // partition's manifest-level file swap
    t.upsertReplace(Seq((null.asInstanceOf[String], "p", "rA", 100))
      .toDF("day", "pk", "rk", "n"))
    val got = t.read.filter($"day".isNull).select("rk", "n")
      .as[(String, Int)].collect().toMap
    assert(got == Map("rA" -> 100, "rB" -> 2),
      "null-partition survivors were lost by a null-unsafe touched join")
    assert(t.read.filter($"day" === "d1").count() == 1)
    // same for upsertMerge
    t.upsertMerge(Seq((null.asInstanceOf[String], "q", "rB", 0))
      .toDF("day", "pk", "rk", "n"), defaults = Map("n" -> 0))
    val got2 = t.read.filter($"day".isNull).select("rk", "n")
      .as[(String, Int)].collect().toMap
    assert(got2 == Map("rA" -> 100, "rB" -> 2))
  }

  // ---------------------------------------------- zone maps (data skipping)

  private def statsTable(): GraftTable = {
    val dir = Files.createTempDirectory("graft_stats").toString + "/t"
    new GraftTable(spark, dir, keys = Seq("pk", "rk"), partitionCol = "day",
      statsCols = Seq("n", "rk"))
  }

  test("zone maps: readWhereBetween ≡ read.filter, with files actually pruned") {
    val t = statsTable().createIfNotExists(rows().schema)
    t.importOnce(rows(("d1", "p", "r1", 1), ("d1", "p", "r2", 5), ("d2", "p", "r1", 103)))
    t.upsertReplace(rows(("d3", "p", "r1", 205), ("d3", "p", "r2", 209)))
    t.upsertReplace(rows(("d2", "p", "r2", 107)))
    val full = t.read.filter(col("n") >= 100 && col("n") <= 110)
      .collect().map(_.toSeq).toSet
    assert(t.readWhereBetween("n", 100, 110).collect().map(_.toSeq).toSet == full)
    val cand = t.candidateFiles("n", 100, 110)
    assert(cand.size < t.dataFileCount,
      s"pruning must drop files: ${cand.size} of ${t.dataFileCount}")
    // d1 (n in [1,5]) and d3 (n in [205,209]) prune ENTIRELY — including
    // d1, written in the SAME commit as a d2 file (per-partition stats
    // must not collide on shared part-file basenames)
    assert(cand.nonEmpty && cand.forall(_.startsWith("day=d2/")),
      s"only d2 files may survive [100,110]: $cand")
  }

  test("zone maps: string pruning works across a manifest/stats checkpoint") {
    val t = statsTable().createIfNotExists(rows().schema)
    for (i <- 1 to 10) // versions cross the v8 full checkpoint
      t.upsertReplace(rows((s"d$i", "p", f"r$i%02d", i)))
    assert(t.readWhereBetween("rk", "r03", "r04")
      .select("rk").as[String].collect().toSet == Set("r03", "r04"))
    val cand = t.candidateFiles("rk", "r03", "r04")
    assert(cand.nonEmpty && cand.size < t.dataFileCount)
    assert(cand.forall(f => f.startsWith("day=d3/") || f.startsWith("day=d4/")),
      s"only d3/d4 files may survive: $cand")
  }

  test("zone maps: an all-null stats column prunes its files for any range") {
    val t = statsTable().createIfNotExists(rows().schema)
    t.importOnce(Seq(("d1", "p", "r1"), ("d1", "p", "r2")).toDF("day", "pk", "rk")
      .withColumn("n", lit(null).cast("int")))
    t.importOnce(rows(("d2", "p", "r1", 7)))
    val cand = t.candidateFiles("n", 0, 1000000)
    assert(cand.nonEmpty && cand.forall(_.startsWith("day=d2/")),
      s"all-null files must prune (a range matches no null): $cand")
    assert(t.readWhereBetween("n", 0, 1000000).count() == 1)
  }

  test("zone maps: vacuum re-anchors stats — pruning survives history reclaim") {
    val t = statsTable().createIfNotExists(rows().schema)
    t.importOnce(rows(("d1", "p", "r1", 1)))
    t.upsertReplace(rows(("d2", "p", "r1", 100)))
    t.upsertReplace(rows(("d3", "p", "r1", 200)))
    t.vacuum(1)
    val cand = t.candidateFiles("n", 90, 110)
    assert(cand.nonEmpty && cand.forall(_.startsWith("day=d2/")),
      s"post-vacuum pruning must still work: $cand")
    assert(t.readWhereBetween("n", 90, 110).select("n").as[Int].collect().toSeq
      == Seq(100))
  }

  test("zone maps: a stats-free table never prunes but reads correctly") {
    val t = freshTable().createIfNotExists(rows().schema)
    t.importOnce(rows(("d1", "p", "r1", 1), ("d2", "p", "r1", 100)))
    assert(t.readWhereBetween("n", 50, 150)
      .select("n").as[Int].collect().toSeq == Seq(100))
    assert(t.candidateFiles("n", 50, 150).size == t.dataFileCount)
  }

  // ---------------------------------------------- deletion vectors

  test("deleteWhere: row-level delete, zero data files touched, time travel intact") {
    val t = freshTable().createIfNotExists(rows().schema)
    t.importOnce(rows(("d1", "p", "r1", 1), ("d1", "p", "r2", 2), ("d2", "p", "r1", 3)))
    val filesBefore = t.dataFileCount
    val vBefore = t.currentVersion
    t.deleteWhere(col("n") === 2)
    assert(t.currentVersion == vBefore + 1, "a DV delete commits a version")
    assert(t.dataFileCount == filesBefore, "a DV delete must add/remove no data files")
    assert(t.read.select("n").as[Int].collect().toSet == Set(1, 3))
    assert(t.readAt(vBefore).select("n").as[Int].collect().toSet == Set(1, 2, 3),
      "the pre-delete version must still see the row")
  }

  test("deleteWhere: no-match is a no-op; deletes compose; rewrites do not resurrect") {
    val t = freshTable().createIfNotExists(rows().schema)
    t.importOnce(rows(("d1", "p", "r1", 1), ("d1", "p", "r2", 2),
      ("d2", "p", "r1", 3), ("d2", "p", "r2", 4)))
    val v1 = t.currentVersion
    t.deleteWhere(col("n") === 99)
    assert(t.currentVersion == v1, "a no-match delete must not commit a version")
    t.deleteWhere(col("n") === 1)
    t.deleteWhere(col("n") === 4)
    assert(t.read.select("n").as[Int].collect().toSet == Set(2, 3))
    // rewriting d1 materializes its DV away; the deleted row must not resurrect
    t.upsertReplace(rows(("d1", "p", "r9", 9)))
    assert(t.read.select("n").as[Int].collect().toSet == Set(2, 3, 9))
    assert(t.read.filter($"day" === "d2").select("n").as[Int].collect().toSet == Set(3),
      "the untouched partition keeps its vector filtering")
  }

  test("deleteWhere: vacuum merges vectors + sweeps orphans; zone-map reads respect DVs") {
    val t = statsTable().createIfNotExists(rows().schema)
    t.importOnce(rows(("d1", "p", "r1", 10), ("d1", "p", "r2", 20), ("d2", "p", "r1", 30)))
    t.deleteWhere(col("n") === 20)
    t.deleteWhere(col("n") === 30)
    val orphan = java.nio.file.Paths.get(t.path, "_graft_log", "dv", "v000099_deadbeef")
    java.nio.file.Files.createDirectories(orphan)
    // a FRESH orphan (inside the grace window) must survive: it may be
    // a concurrent writer's staged-but-not-yet-linked sidecar dir
    t.vacuum(1)
    assert(java.nio.file.Files.exists(orphan),
      "orphan dv dir inside the grace window must NOT be swept")
    // past the grace window it is reclaimable
    val saved = GraftTable.orphanGraceMs
    try {
      GraftTable.orphanGraceMs = 0L
      t.vacuum(1)
    } finally GraftTable.orphanGraceMs = saved
    assert(!java.nio.file.Files.exists(orphan), "aged orphan dv dir must be swept")
    assert(t.read.select("n").as[Int].collect().toSet == Set(10))
    assert(t.readWhereBetween("n", 0, 100).select("n").as[Int].collect().toSet
      == Set(10), "the stats-pruned read must subtract merged vectors")
    val dvDirs = Option(java.nio.file.Paths.get(t.path, "_graft_log", "dv")
      .toFile.listFiles()).get.filter(_.isDirectory)
    assert(dvDirs.length == 1, s"vectors must merge to one dir: ${dvDirs.mkString(",")}")
  }

  test("upsertReplaceBatch: exactly-once per (app, batch) — replays skip atomically") {
    val t = freshTable().createIfNotExists(rows().schema)
    assert(t.upsertReplaceBatch("app", 0, rows(("d1", "p", "r1", 1))))
    assert(!t.upsertReplaceBatch("app", 0, rows(("d1", "p", "r1", 999))),
      "a replayed batch must be skipped")
    assert(t.read.select("n").as[Int].collect().toSeq == Seq(1))
    assert(t.upsertReplaceBatch("app", 1, rows(("d1", "p", "r1", 2))))
    assert(t.txnVersion("app") == 1L && t.txnVersion("other") == -1L)
    assert(t.upsertReplaceBatch("other", 0, rows(("d2", "p", "r1", 7))),
      "apps are independent")
    // state survives full checkpoints (≥8 versions) and vacuum
    for (i <- 2 to 10)
      assert(t.upsertReplaceBatch("app", i.toLong, rows(("d1", "p", "r1", i))))
    t.vacuum(1)
    assert(!t.upsertReplaceBatch("app", 10, rows(("d1", "p", "r1", 0))),
      "txn state must survive vacuum")
    assert(t.read.filter($"day" === "d1").select("n").as[Int].collect().toSeq
      == Seq(10))
  }

  test("deleteWhere: compaction purges deleted rows physically; content invariant") {
    val t = freshTable().createIfNotExists(rows().schema)
    t.importOnce(rows(("d1", "p", "r1", 1), ("d1", "p", "r2", 2)))
    t.deleteWhere(col("n") === 1)
    t.compact()
    assert(t.read.select("n").as[Int].collect().toSeq == Seq(2))
    t.vacuum(1) // merged vector now references only dead files — a no-op
    assert(t.read.select("n").as[Int].collect().toSeq == Seq(2))
  }

  import GraftTable.{MatchedDelete, MatchedUpdate, src}

  test("merge: update + delete + insert in ONE atomic commit; unmatched and unclaimed rows keep") {
    val t = freshTable().createIfNotExists(rows().schema)
    t.importOnce(rows(("d1", "p", "r1", 1), ("d1", "p", "r2", 2),
      ("d1", "p", "r3", 3), ("d2", "p", "r4", 4)))
    val v0 = t.currentVersion
    // source: r1 → delete, r2 → update (cond holds), r3 → matched but NO
    // clause fires, r9 → insert, r8 → insert cond fails
    val source = Seq(("p", "r1", "del", 0), ("p", "r2", "upd", 20),
      ("p", "r3", "upd", -1), ("p", "r9", "ins", 9), ("p", "r8", "del", 8))
      .toDF("pk", "rk", "op", "v")
    t.merge(source,
      matched = Seq(
        MatchedDelete(src("op") === "del"),
        MatchedUpdate(src("op") === "upd" && src("v") > col("n"),
          Map("n" -> (src("v") + col("n"))))),
      notMatchedInsert = Some((src("op") =!= "del",
        Map("day" -> lit("d9"), "pk" -> src("pk"), "rk" -> src("rk"),
          "n" -> src("v")))))
    val got = t.read.select("day", "rk", "n").as[(String, String, Int)]
      .collect().map(r => r._2 -> (r._1, r._3)).toMap
    assert(got == Map("r2" -> (("d1", 22)), "r3" -> (("d1", 3)),
      "r4" -> (("d2", 4)), "r9" -> (("d9", 9))))
    assert(t.currentVersion == v0 + 1, "one merge = one commit")
    // pre-merge state time-travels
    assert(t.readAt(v0).count() == 4)
  }

  test("merge: clauses fire in order — first hit wins") {
    def run(clauses: Seq[GraftTable.MatchedClause]): Seq[Int] = {
      val t = freshTable().createIfNotExists(rows().schema)
      t.importOnce(rows(("d1", "p", "r1", 1)))
      t.merge(Seq(("p", "r1", 100)).toDF("pk", "rk", "v"), matched = clauses)
      t.read.select("n").as[Int].collect().toSeq
    }
    // both clause conditions hold on the row; order decides
    assert(run(Seq(MatchedDelete(lit(true)),
      MatchedUpdate(lit(true), Map("n" -> src("v"))))) == Seq())
    assert(run(Seq(MatchedUpdate(lit(true), Map("n" -> src("v"))),
      MatchedDelete(lit(true)))) == Seq(100))
  }

  test("merge: sourceKeyUnique skips the guard, same result on a unique source") {
    def run(flag: Boolean): Map[String, Int] = {
      val t = freshTable().createIfNotExists(rows().schema)
      t.importOnce(rows(("d1", "p", "r1", 1), ("d1", "p", "r2", 2)))
      t.merge(Seq(("p", "r1", "del", 0), ("p", "r2", "upd", 20),
          ("p", "r9", "ins", 9)).toDF("pk", "rk", "op", "v"),
        matched = Seq(
          MatchedDelete(src("op") === "del"),
          MatchedUpdate(src("op") === "upd", Map("n" -> src("v")))),
        notMatchedInsert = Some((src("op") === "ins",
          Map("day" -> lit("d9"), "pk" -> src("pk"), "rk" -> src("rk"),
            "n" -> src("v")))),
        sourceKeyUnique = flag)
      t.read.select("rk", "n").as[(String, Int)].collect().toMap
    }
    assert(run(flag = true) == run(flag = false))
    assert(run(flag = true) == Map("r2" -> 20, "r9" -> 9))
  }

  test("merge: duplicate source keys and unknown assignment columns are rejected") {
    val t = freshTable().createIfNotExists(rows().schema)
    t.importOnce(rows(("d1", "p", "r1", 1)))
    val dup = Seq(("p", "r1", 1), ("p", "r1", 2)).toDF("pk", "rk", "v")
    intercept[IllegalArgumentException] {
      t.merge(dup, matched = Seq(MatchedUpdate(lit(true), Map("n" -> src("v")))))
    }
    intercept[IllegalArgumentException] {
      t.merge(Seq(("p", "r1", 1)).toDF("pk", "rk", "v"),
        matched = Seq(MatchedUpdate(lit(true), Map("nope" -> src("v")))))
    }
  }

  test("merge: only matched partitions rewrite; insert-only merge rewrites nothing") {
    val t = freshTable().createIfNotExists(rows().schema)
    t.importOnce(rows(("d1", "p", "r1", 1), ("d2", "p", "r2", 2)))
    def files(day: String) = {
      val d = new java.io.File(s"${t.path}/day=$day")
      if (!d.exists) Set.empty[(String, Long)]
      else d.listFiles.filter(_.getName.endsWith(".parquet"))
        .map(f => (f.getName, f.lastModified)).toSet
    }
    val (d1a, d2a) = (files("d1"), files("d2"))
    // insert-only merge: NO partition rewrites, rows append
    t.merge(Seq(("p", "r5", 5)).toDF("pk", "rk", "v"), matched = Nil,
      notMatchedInsert = Some((lit(true),
        Map("day" -> lit("d1"), "pk" -> src("pk"), "rk" -> src("rk"), "n" -> src("v")))))
    assert(files("d1").intersect(d1a) == d1a, "insert-only merge must keep d1's files")
    assert(files("d2") == d2a)
    // matched merge touching only d1: d2's files stay put
    t.merge(Seq(("p", "r1", 10)).toDF("pk", "rk", "v"),
      matched = Seq(MatchedUpdate(lit(true), Map("n" -> src("v")))))
    assert(files("d2") == d2a, "untouched partition must not rewrite")
    assert(t.read.select("rk", "n").as[(String, Int)].collect().toMap
      == Map("r1" -> 10, "r2" -> 2, "r5" -> 5))
  }

  test("merge: partition-moving update relocates the row; emptied partition drops") {
    val t = freshTable().createIfNotExists(rows().schema)
    t.importOnce(rows(("d1", "p", "r1", 1), ("d2", "p", "r2", 2)))
    t.merge(Seq(("p", "r1")).toDF("pk", "rk"),
      matched = Seq(MatchedUpdate(lit(true), Map("day" -> lit("d7")))))
    val got = t.read.select("day", "rk").as[(String, String)].collect().toSet
    assert(got == Set(("d7", "r1"), ("d2", "r2")))
    // d1 lost its only row: gone from the live manifest
    assert(t.read.filter($"day" === "d1").count() == 0)
  }

  test("compactRange re-cuts partitions into range-disjoint files; zone maps turn selective; content invariant") {
    val s = spark; import s.implicits._
    val dir = Files.createTempDirectory("graft_crange").toString + "/t"
    val t = new GraftTable(s, dir, keys = Seq("pk", "rk"), partitionCol = "day",
      statsCols = Seq("n"))
    t.createIfNotExists(rows().schema)
    // 4 ticks, each spanning the FULL n range in both partitions →
    // every file's [min,max] covers everything, zone maps prune NOTHING
    for (tk <- 0 until 4)
      // repartition(1): ONE file per partition per tick, each spanning
      // the full n range (the local Seq would otherwise slice into
      // accidentally range-banded task files)
      t.insertIfAbsent((0 until 25).flatMap(i => Seq(
        ("d0", "p", s"a${tk}_$i", tk + 4 * i),
        ("d1", "p", s"b${tk}_$i", tk + 4 * i))).toDF("day", "pk", "rk", "n")
        .repartition(1))
    val before = t.read.select("day", "rk", "n").as[(String, String, Int)]
      .collect().toSet
    assert(t.candidateFiles("n", 0, 9).size == t.dataFileCount,
      "interleaved layout must be unprunable")
    t.compactRange(8, Seq("n"))
    assert(t.read.select("day", "rk", "n").as[(String, String, Int)]
      .collect().toSet == before, "compaction must not change content")
    val cand = t.candidateFiles("n", 0, 9)
    assert(cand.size < t.dataFileCount / 2,
      s"range clustering must make zone maps selective: ${cand.size} of ${t.dataFileCount}")
    assert(t.readWhereBetween("n", 0, 9).count() ==
      before.count(r => r._3 <= 9).toLong)
  }

  test("z-order clustering prunes BOTH underlying dimensions from one compactRange") {
    val s = spark; import s.implicits._
    val dir = Files.createTempDirectory("graft_zord").toString + "/t"
    val t = new GraftTable(s, dir, keys = Seq("k"), partitionCol = "day",
      statsCols = Seq("x", "y"))
    t.createIfNotExists(Seq.empty[(String, Long, Long, Long, Long)]
      .toDF("day", "k", "x", "y", "zv").schema)
    // 64 points on an 8×8 grid, interleaved arrival (full-range files)
    for (tk <- 0 until 4)
      t.insertIfAbsent((0 until 16).map { i =>
        // 5 and 3 are coprime to 8 → each tick's x and y SPAN 0..7
        val (x, y) = ((i * 5 + tk) % 8, (i * 3 + tk) % 8)
        ("d0", (tk * 16 + i).toLong, x.toLong, y.toLong, 0L)
      }.toDF("day", "k", "x", "y", "zv")
        .withColumn("zv", Layout.zValue(col("x"), col("y"), 3))
        .repartition(1))
    assert(t.candidateFiles("x", 0, 1).size == t.dataFileCount)
    t.compactRange(8, Seq("zv"))
    val cx = t.candidateFiles("x", 0, 1).size
    val cy = t.candidateFiles("y", 0, 1).size
    assert(cx < t.dataFileCount && cy < t.dataFileCount,
      s"both dims must prune after z-order: x=$cx y=$cy of ${t.dataFileCount}")
    assert(t.readWhereBetween("x", 0, 1).count() ==
      t.read.filter($"x" <= 1).count())
  }

  test("restore: rolls back to any version as a NEW commit; history intact; metadata-only without later DVs") {
    val t = freshTable().createIfNotExists(rows().schema)
    t.importOnce(rows(("d1", "p", "r1", 1), ("d2", "p", "r2", 2)))
    val v2 = t.currentVersion
    def files(day: String) = {
      val d = new java.io.File(s"${t.path}/day=$day")
      if (!d.exists) Set.empty[(String, Long)]
      else d.listFiles.filter(_.getName.endsWith(".parquet"))
        .map(f => (f.getName, f.lastModified)).toSet
    }
    val d1v2 = files("d1")
    t.upsertReplace(rows(("d1", "p", "r1", 100), ("d3", "p", "r9", 9)))
    val head = t.currentVersion
    t.restore(v2)
    assert(t.currentVersion == head + 1, "restore is itself a commit")
    assert(t.read.select("rk", "n").as[(String, Int)].collect().toMap
      == Map("r1" -> 1, "r2" -> 2), "live state = the restored version")
    // no later DVs → purely metadata: d1's ORIGINAL files are live again
    assert(files("d1").intersect(d1v2) == d1v2, "restore must not copy data")
    // the pre-restore head still time-travels
    assert(t.readAt(head).select("rk", "n").as[(String, Int)].collect().toMap
      == Map("r1" -> 100, "r2" -> 2, "r9" -> 9))
    // and the table keeps mutating normally after a restore
    t.upsertReplace(rows(("d2", "p", "r2", 22)))
    assert(t.read.select("rk", "n").as[(String, Int)].collect().toMap
      == Map("r1" -> 1, "r2" -> 22))
  }

  test("restore: rows deleted by a LATER deletion vector come back (affected files re-land)") {
    val t = freshTable().createIfNotExists(rows().schema)
    t.importOnce(rows(("d1", "p", "r1", 1), ("d1", "p", "r2", 2), ("d2", "p", "r3", 3)))
    val v2 = t.currentVersion
    t.deleteWhere(col("n") === 2) // DV at v3 touches d1's file
    assert(t.read.count() == 2)
    t.restore(v2)
    assert(t.read.select("rk").as[String].collect().toSet
      == Set("r1", "r2", "r3"), "DV-deleted row must resurrect")
    // restore-of-restore: back to the post-delete state
    t.restore(v2 + 1)
    assert(t.read.select("rk").as[String].collect().toSet == Set("r1", "r3"))
  }

  test("bloom index: point lookups skip files; result equals the plain filter; string columns too") {
    val s = spark; import s.implicits._
    val dir = Files.createTempDirectory("graft_bloom").toString + "/t"
    val t = new GraftTable(s, dir, keys = Seq("pk", "rk"), partitionCol = "day",
      bloomCols = Seq("n", "rk"))
    t.createIfNotExists(rows().schema)
    // 8 ticks, disjoint value bands → every file's bloom is selective
    for (b <- 0 until 8)
      t.insertIfAbsent((0 until 40).map(i =>
        ("d" + (b % 2), "p" + b, s"rk_${b}_$i", b * 1000 + i)).toDF("day", "pk", "rk", "n"))
    val total = t.dataFileCount
    assert(total >= 8)
    // n = 3007 lives only in band 3's files
    val cand = t.candidateFilesEquals("n", 3007)
    assert(cand.size < total, s"bloom must skip files: ${cand.size} of $total")
    val got = t.readWhereEquals("n", 3007).select("rk").as[String].collect().toSeq
    assert(got == Seq("rk_3_7"))
    // equality on the string column prunes too
    val candS = t.candidateFilesEquals("rk", "rk_5_11")
    assert(candS.size < total)
    assert(t.readWhereEquals("rk", "rk_5_11").count() == 1)
    // a value NOWHERE in the table: typically every file prunes
    assert(t.readWhereEquals("n", 999999).count() == 0)
  }

  test("bloom index: survives checkpoints and vacuum; bloom-free tables never prune but read correctly") {
    val s = spark; import s.implicits._
    val dir = Files.createTempDirectory("graft_bloom2").toString + "/t"
    val t = new GraftTable(s, dir, keys = Seq("pk", "rk"), partitionCol = "day",
      bloomCols = Seq("n"))
    t.createIfNotExists(rows().schema)
    for (b <- 0 until 10) // crosses the 8-version full checkpoint
      t.insertIfAbsent(Seq(("d" + b, "p", s"r$b", b * 100)).toDF("day", "pk", "rk", "n"))
    val total = t.dataFileCount
    assert(t.candidateFilesEquals("n", 300).size < total,
      "pruning must survive the stats checkpoint")
    assert(t.readWhereEquals("n", 300).count() == 1)
    t.vacuum(1)
    assert(t.candidateFilesEquals("n", 300).size < t.dataFileCount
      || t.dataFileCount == 1, "pruning must survive vacuum re-anchor")
    assert(t.readWhereEquals("n", 300).count() == 1)
    // bloom-free table: no pruning, same answers
    val t2 = freshTable().createIfNotExists(rows().schema)
    t2.importOnce(rows(("d1", "p", "r1", 5), ("d2", "p", "r2", 6)))
    assert(t2.candidateFilesEquals("n", 5).size == t2.dataFileCount)
    assert(t2.readWhereEquals("n", 5).count() == 1)
  }

  test("check constraints: violating mutations abort atomically; ANSI null passes; drop re-allows") {
    val t = freshTable().createIfNotExists(rows().schema)
    t.importOnce(rows(("d1", "p", "r1", 5)))
    t.addCheck("n_positive", "n > 0")
    val v0 = t.currentVersion
    val files0 = t.dataFileCount
    intercept[CheckViolationException] {
      t.upsertReplace(rows(("d1", "p", "r2", -1)))
    }
    assert(t.currentVersion == v0, "failed mutation must not commit a version")
    assert(t.dataFileCount == files0, "failed mutation must not land files")
    // the violating batch also never leaked invisible files on disk
    def parquetCount(f: java.io.File): Int =
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty).map(parquetCount).sum
      else if (f.getName.endsWith(".parquet") && !f.getPath.contains("_graft_log")) 1
      else 0
    assert(parquetCount(new java.io.File(t.path)) == files0)
    // ANSI: null is UNKNOWN, not a violation
    val s = spark; import s.implicits._
    t.upsertReplace(Seq(("d1", "p", "r3", Option.empty[Int]))
      .toDF("day", "pk", "rk", "n"))
    assert(t.read.count() == 2)
    // a passing mutation commits; dropping the check re-allows violations
    t.upsertReplace(rows(("d1", "p", "r4", 1)))
    t.dropCheck("n_positive")
    t.upsertReplace(rows(("d1", "p", "r5", -7)))
    assert(t.read.count() == 4)
  }

  test("check constraints: addCheck validates the existing table; merge enforces too") {
    val t = freshTable().createIfNotExists(rows().schema)
    t.importOnce(rows(("d1", "p", "r1", -3)))
    intercept[CheckViolationException] { t.addCheck("pos", "n > 0") }
    assert(t.checks.isEmpty)
    t.addCheck("small", "n < 100") // existing rows satisfy this one
    assert(t.checks == Map("small" -> "n < 100"))
    val s = spark; import s.implicits._
    intercept[CheckViolationException] {
      t.merge(Seq(("p", "r1", 500)).toDF("pk", "rk", "v"),
        matched = Seq(MatchedUpdate(lit(true), Map("n" -> src("v")))))
    }
    assert(t.read.select("n").as[Int].collect().toSeq == Seq(-3),
      "failed merge must leave the table untouched")
  }

  test("merge schema evolution: assigned new columns append nullable; old rows and versions project null") {
    val t = freshTable().createIfNotExists(rows().schema)
    t.importOnce(rows(("d1", "p", "r1", 1), ("d1", "p", "r2", 2)))
    val v0 = t.currentVersion
    t.merge(Seq(("p", "r1", "hot")).toDF("pk", "rk", "tag"),
      matched = Seq(MatchedUpdate(lit(true), Map("tag" -> src("tag")))),
      notMatchedInsert = None, allowSchemaEvolution = true)
    val got = t.read.select("rk", "tag").as[(String, Option[String])]
      .collect().toMap
    assert(got === Map("r1" -> Some("hot"), "r2" -> None))
    // time travel BEFORE the evolution reads the new column as null
    assert(t.readAt(v0).select("tag").as[Option[String]].collect().toSet
      === Set(None))
    // inserts may carry the new column too
    t.merge(Seq(("p", "r9", "new")).toDF("pk", "rk", "tag"), matched = Nil,
      notMatchedInsert = Some((lit(true), Map("day" -> lit("d1"),
        "pk" -> src("pk"), "rk" -> src("rk"), "tag" -> src("tag")))),
      allowSchemaEvolution = true)
    assert(t.read.filter($"rk" === "r9").select("tag").as[Option[String]]
      .collect().toSeq === Seq(Some("new")))
  }

  test("mergeBatch: exactly-once merge per (app, batch); replays skip atomically") {
    val t = freshTable().createIfNotExists(rows().schema)
    t.importOnce(rows(("d1", "p", "r1", 1)))
    def apply(b: Long, n: Int) = t.mergeBatch("cdc", b,
      Seq(("p", "r1", n)).toDF("pk", "rk", "v"),
      matched = Seq(MatchedUpdate(lit(true), Map("n" -> src("v")))))
    assert(apply(0, 10))
    assert(apply(1, 20))
    assert(!apply(1, 999), "replayed batch must skip")
    assert(!apply(0, 888), "older batch must skip")
    assert(t.read.select("n").as[Int].collect().toSeq == Seq(20))
    assert(t.txnVersion("cdc") == 1L)
  }

  test("merge: null-key source rows never match; unassigned insert columns pad null") {
    val t = freshTable().createIfNotExists(rows().schema)
    t.importOnce(rows(("d1", "p", "r1", 1)))
    val source = Seq((Some("p"), Some("r1"), 50), (None, None, 60))
      .toDF("pk", "rk", "v")
    t.merge(source,
      matched = Seq(MatchedUpdate(lit(true), Map("n" -> src("v")))),
      notMatchedInsert = Some((lit(true),
        Map("day" -> lit("dX"), "pk" -> src("pk"), "rk" -> src("rk")))))
    val got = t.read.select("day", "n").as[(String, Option[Int])].collect().toSet
    // the null-key row INSERTS (SQL: not matched), with n padded null
    assert(got == Set(("d1", Some(50)), ("dX", None)))
  }
}
