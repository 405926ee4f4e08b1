package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StructField}

import graft.SparkSpec

/** Regression specs for the round-7 advisor findings: schema-sidecar
  * evolution under concurrent writers (merge-by-union, never
  * last-writer-wins), Bloom-index geometry persistence across reopens
  * with different parameters, and MERGE's null-key source rows being
  * insert candidates rather than duplicate-key errors.
  */
class GraftTableAdviceSpec extends SparkSpec {
  import spark.implicits._

  private def dir() = Files.createTempDirectory("graft_advice").toString + "/t"

  private def rows(t: (String, String, String, Int)*) =
    t.toSeq.toDF("day", "pk", "rk", "n")

  test("sidecar evolution merges by union: a stale writer cannot drop a " +
    "concurrent writer's column") {
    val p = dir()
    val t = new GraftTable(spark, p, keys = Seq("pk", "rk"), partitionCol = "day")
    t.createIfNotExists(rows().schema)
    t.importOnce(rows(("d1", "p", "r1", 1)))
    val stale = t.read.schema // snapshot BEFORE either evolution

    // writer A evolves +x through a real mutation
    t.upsertReplace(rows(("d1", "p", "r1", 2)).withColumn("x", lit(7)))
    assert(t.read.columns.contains("x"))

    // writer B holds the PRE-A schema and evolves +y directly against it
    // (the stale read-modify-write the advisor flagged): the union write
    // must preserve A's x
    val evolved = t.evolveSidecar(
      org.apache.spark.sql.types.StructType(
        stale.fields.filterNot(_.name == "x")),
      Seq(StructField("y", IntegerType, nullable = true)))
    assert(evolved.fieldNames.contains("x"),
      "concurrent writer A's column x was dropped by B's stale sidecar write")
    assert(evolved.fieldNames.contains("y"))
    // and the table still reads A's committed data for x
    val got = t.read.select("x").as[Int].collect().toSeq
    assert(got == Seq(7))

    // a same-name re-append with a DIFFERENT type is rejected loudly
    intercept[IllegalArgumentException] {
      t.evolveSidecar(evolved,
        Seq(StructField("x", org.apache.spark.sql.types.StringType, nullable = true)))
    }
  }

  test("bloom geometry travels with the entry: reopening with different " +
    "bloomBits neither false-prunes nor overflows") {
    val p = dir()
    val mk = (bits: Int) => new GraftTable(spark, p, keys = Seq("pk", "rk"),
      partitionCol = "day", bloomCols = Seq("rk"), bloomBits = bits)
    val t = mk(1024)
    t.createIfNotExists(rows().schema)
    t.importOnce(rows(
      ("d1", "p", "r1", 1), ("d1", "p", "r2", 2),
      ("d2", "p", "r3", 3), ("d2", "p", "r4", 4)))

    val expect = t.read.filter(col("rk") === "r3")
      .select("day", "n").as[(String, Int)].collect().toSet
    assert(expect.nonEmpty)

    // SMALLER modulus at reopen: positions mod 256 differ from the
    // entry's mod-1024 positions — probing with the instance's bits
    // would false-prune the file holding r3
    val small = mk(256)
    assert(small.readWhereEquals("rk", "r3")
      .select("day", "n").as[(String, Int)].collect().toSet == expect)

    // LARGER modulus at reopen: a mod-4096 position over a 16-word
    // array would throw ArrayIndexOutOfBounds if the entry's own
    // geometry were ignored
    val big = mk(4096)
    assert(big.readWhereEquals("rk", "r3")
      .select("day", "n").as[(String, Int)].collect().toSet == expect)
    // and real pruning still happens under the entry geometry: only the
    // d2 file can hold r3
    assert(big.candidateFilesEquals("rk", "r3").size <
      big.dataFileCount)
  }

  test("OCC logical conflict detection: disjoint-partition losers re-commit " +
    "their files without re-running; overlapping ones still fully retry") {
    val p = dir()
    val t = new GraftTable(spark, p, keys = Seq("pk", "rk"), partitionCol = "day")
    t.createIfNotExists(rows().schema)
    t.importOnce(rows(("d1", "p", "r1", 1), ("d2", "p", "r1", 2)))
    val base = t.currentVersion

    // writer A wins the race on partition d1
    t.upsertReplace(rows(("d1", "p", "r1", 100)))
    assert(t.currentVersion == base + 1)

    // writer B raced on DISJOINT partition d2 with a stale base: with
    // partitionScoped the loser must detect disjointness and re-commit
    // its already-written files — no exception, version advances
    val b = new GraftTable(spark, p, t.keys, t.partitionCol)
    b.commitRewriteAt(rows(("d2", "p", "r1", 200)), Seq(Some("d2")), base,
      partitionScoped = true)
    assert(t.currentVersion == base + 2, "disjoint loser must commit base+2")
    val got = t.read.select("day", "n").as[(String, Int)].collect().toMap
    assert(got == Map("d1" -> 100, "d2" -> 200),
      "both writers' content must land")
    // no duplicate/orphan files: on-disk tree == union of manifests
    val onDisk = {
      def walk(f: java.io.File): Seq[String] =
        if (f.isDirectory) {
          if (f.getName.startsWith("_")) Seq.empty
          else Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap(walk)
        } else if (f.getName.endsWith(".parquet"))
          Seq(java.nio.file.Paths.get(p).relativize(f.toPath).toString)
        else Seq.empty
      walk(new java.io.File(p)).toSet
    }
    val referenced = t.versions.flatMap(v => t.readAt(v).inputFiles.map(q =>
      java.nio.file.Paths.get(p).relativize(
        java.nio.file.Paths.get(q.stripPrefix("file:"))).toString)).toSet
    assert(onDisk == referenced,
      s"orphans or missing files: ${(onDisk -- referenced) ++ (referenced -- onDisk)}")

    // writer C raced on the SAME partition d1 that interleaved writer A
    // rewrote (stale base BEFORE A's commit) → still a hard conflict,
    // files cleaned up (the pre-existing guarantee, unchanged)
    val preC = t.read.collect().map(_.toSeq).toSet
    val c = new GraftTable(spark, p, t.keys, t.partitionCol)
    intercept[CommitConflictException](
      c.commitRewriteAt(rows(("d1", "p", "r1", 999)), Seq(Some("d1")),
        base, partitionScoped = true))
    assert(t.currentVersion == base + 2)
    assert(t.read.collect().map(_.toSeq).toSet == preC)

    // an interleaved DELETION-VECTOR commit poisons the logical check
    // (its touched partitions are unknown) → hard conflict even for a
    // "disjoint" partition
    val base2 = t.currentVersion
    t.deleteWhere(col("day") === "d1" && col("n") === 100)
    assert(t.currentVersion == base2 + 1)
    intercept[CommitConflictException](
      new GraftTable(spark, p, t.keys, t.partitionCol)
        .commitRewriteAt(rows(("d2", "p", "r9", 9)), Seq(Some("d2")), base2,
          partitionScoped = true))
  }

  test("blind append (empty read-set) always re-commits on a lost race — " +
    "even into the SAME partition") {
    val p = dir()
    val t = new GraftTable(spark, p, keys = Seq("pk", "rk"), partitionCol = "day")
    t.createIfNotExists(rows().schema)
    t.importOnce(rows(("d1", "p", "r1", 1)))
    val base = t.currentVersion
    t.upsertReplace(rows(("d1", "p", "r1", 100))) // interleaved winner on d1
    // loser appends INTO d1 from the stale base: an append's read-set is
    // empty, so it must re-commit its files, not conflict
    new GraftTable(spark, p, t.keys, t.partitionCol)
      .commitRewriteAt(rows(("d1", "p", "r9", 9)), Seq.empty, base,
        blindRetry = true)
    assert(t.currentVersion == base + 2)
    assert(t.read.select("rk", "n").as[(String, Int)].collect().toMap ==
      Map("r1" -> 100, "r9" -> 9))
  }

  test("OCC logical retry stays conservative across an interleaved " +
    "CHECKPOINT manifest (its touched set is unrecorded)") {
    val p = dir()
    val t = new GraftTable(spark, p, keys = Seq("pk", "rk"), partitionCol = "day")
    t.createIfNotExists(rows().schema)
    // drive the version counter to 7 so the interleaved winner commits
    // the every-8th parquet checkpoint
    for (i <- 1 to 6) t.upsertReplace(rows((s"d$i", "p", "r1", i)))
    assert(t.currentVersion == 7L)
    val base = t.currentVersion
    t.upsertReplace(rows(("d1", "p", "r1", 100))) // v8 = checkpoint
    assert(t.currentVersion == 8L)
    // disjoint-partition loser: the interleaved manifest is a
    // checkpoint → no touched set to validate against → hard conflict
    intercept[CommitConflictException](
      new GraftTable(spark, p, t.keys, t.partitionCol)
        .commitRewriteAt(rows(("d2", "p", "r1", 200)), Seq(Some("d2")), base,
          partitionScoped = true))
    assert(t.currentVersion == 8L)
  }

  test("readChangesRowsSince: classifies insert/update/delete; identical " +
    "rewrites (compaction) emit nothing; DV deletes surface") {
    val p = dir()
    val t = new GraftTable(spark, p, keys = Seq("pk", "rk"), partitionCol = "day")
    t.createIfNotExists(rows().schema)
    t.importOnce(rows(("d1", "p", "r1", 1), ("d1", "p", "r2", 2),
      ("d2", "p", "r21", 3), ("d3", "p", "r31", 4)))
    val since = t.currentVersion

    // compaction only: identical content rewritten → empty feed
    t.compact(2)
    assert(t.readChangesRowsSince(since).count() == 0,
      "identical-content rewrite must emit no changes")

    // update r1, insert r9 (partition d1); keyed delete of r21 (d2); DV
    // delete of r31 — no file enters or leaves d3's live set
    t.upsertReplace(rows(("d1", "p", "r1", 100), ("d1", "p", "r9", 9)))
    t.deleteByKeys(Seq(("p", "r21")).toDF("pk", "rk"))
    assert(t.read.filter(col("day") === "d2").count() == 0,
      "keyed delete should drop the d2 row")
    t.deleteWhere(col("day") === "d3")
    val feed = t.readChangesRowsSince(since)
      .select("day", "rk", "n", "_change_type")
      .as[(String, String, Int, String)].collect().toSet
    assert(feed == Set(
      ("d1", "r1", 1, "update_preimage"),
      ("d1", "r1", 100, "update_postimage"),
      ("d1", "r9", 9, "insert"),
      ("d2", "r21", 3, "delete"),
      ("d3", "r31", 4, "delete")), s"got $feed")
    // untouched rows (d1/r2 unchanged value through the rewrite) absent
    assert(!feed.exists(f => f._2 == "r2"))
  }

  test("checkpoint manifests are parquet: the JSON carries markers plus " +
    "only THIS commit's own delta (O(commit), never O(live)); replay, " +
    "stats pruning and time travel work through the checkpoint") {
    val p = dir()
    val t = new GraftTable(spark, p, keys = Seq("pk", "rk"),
      partitionCol = "day", statsCols = Seq("n"))
    t.createIfNotExists(rows().schema)
    // 9 commits → versions 2..10 cross the every-8th checkpoint at v8
    for (i <- 1 to 9)
      t.upsertReplace(rows((s"d${i % 3}", "p", s"r$i", i)))
    assert(t.currentVersion == 10L)
    val ckptJson = java.nio.file.Files.readString(
      java.nio.file.Paths.get(p, "_graft_log", "v000008.json"))
    // the checkpoint JSON lists NO live set — only #-markers plus the
    // COMMIT'S OWN delta (#cdelta record, round 9: what lets streaming
    // ranges cross checkpoints in O(changed files)). v8 touched one
    // partition: its entries are bounded by that commit, not the table.
    val entries = ckptJson.substring(ckptJson.indexOf('[') + 1, ckptJson.lastIndexOf(']'))
      .split("\",\\s*\"").map(_.stripPrefix("\"").stripSuffix("\"")).toSeq
    assert(entries.forall(e => e.startsWith("#") ||
      e.startsWith("+") || e.startsWith("-")),
      s"checkpoint manifest must carry only markers + own delta, got $entries")
    assert(entries.exists(_.startsWith("#ckpt:")))
    assert(entries.contains("#cdelta"),
      "checkpoint manifests must mark their delta record complete")
    val adds = entries.filter(_.startsWith("+"))
    val drops = entries.filter(_.startsWith("-"))
    assert(adds.size == 1 && drops == Seq("-day=d1"),
      s"the #cdelta record must be THIS commit's delta alone: $entries")
    // live replay through the checkpoint + later deltas
    val got = t.read.select("rk", "n").as[(String, Int)].collect().toMap
    assert(got == (1 to 9).map(i => s"r$i" -> i).toMap)
    // time travel BELOW the checkpoint still works (delta chain down)
    assert(t.readAt(5).select("rk").as[String].collect().toSet ==
      (1 to 4).map(i => s"r$i").toSet)
    // stats ride the checkpoint columns: pruning still prunes
    val cand = t.candidateFiles("n", 9, 9)
    assert(cand.size < t.dataFileCount,
      s"zone pruning through the checkpoint: ${cand.size} of ${t.dataFileCount}")
    assert(t.readWhereBetween("n", 9, 9).select("rk").as[String]
      .collect().toSeq == Seq("r9"))
    // vacuum re-anchors on a checkpoint and sweeps history
    t.vacuum(keepVersions = 2)
    assert(t.read.select("rk", "n").as[(String, Int)].collect().toMap == got)
    assert(t.readWhereBetween("n", 9, 9).select("rk").as[String]
      .collect().toSeq == Seq("r9"))
  }

  test("merge: null-key source rows are insert candidates, not duplicates") {
    val p = dir()
    val t = new GraftTable(spark, p, keys = Seq("pk", "rk"), partitionCol = "day")
    t.createIfNotExists(rows().schema)
    t.importOnce(rows(("d1", "a", "r1", 1)))

    // TWO source rows with a null key: under SQL null-key semantics
    // neither can match any target row — both are not-matched insert
    // candidates, and the multiple-match guard must not reject them
    val src = Seq(
      ("d1", "a", Option("r1"), 10),   // matches → update
      ("d1", "b", Option.empty[String], 20), // null key → insert
      ("d2", "c", Option.empty[String], 30)) // null key → insert
      .toDF("day", "pk", "rk", "n")
    t.merge(src,
      matched = Seq(GraftTable.MatchedUpdate(lit(true),
        Map("n" -> GraftTable.src("n")))),
      notMatchedInsert = Some((lit(true), Map(
        "day" -> GraftTable.src("day"), "pk" -> GraftTable.src("pk"),
        "rk" -> GraftTable.src("rk"), "n" -> GraftTable.src("n")))))
    val got = t.read.select("pk", "n").as[(String, Int)].collect().toMap
    assert(got == Map("a" -> 10, "b" -> 20, "c" -> 30))

    // genuinely duplicate NON-null keys still reject
    intercept[IllegalArgumentException] {
      t.merge(Seq(("d1", "a", "r1", 1), ("d9", "a", "r1", 2))
        .toDF("day", "pk", "rk", "n"),
        matched = Seq(GraftTable.MatchedUpdate(lit(true),
          Map("n" -> GraftTable.src("n")))))
    }
  }

  test("footer-harvested stats prune TIMESTAMP and DATE zone maps " +
    "(TIMESTAMP_MICROS pinned by GraftSession.tune)") {
    val p = dir()
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    def dt(s: String) = java.sql.Date.valueOf(s)
    val t = new GraftTable(spark, p, keys = Seq("pk"), partitionCol = "day",
      statsCols = Seq("at", "dt"))
    val df = Seq(
      ("d1", "a", ts("2024-01-01 00:00:00"), dt("2024-01-01"), 1),
      ("d1", "b", ts("2024-01-02 00:00:00"), dt("2024-01-02"), 2),
      ("d2", "c", ts("2024-06-01 00:00:00"), dt("2024-06-01"), 3),
      ("d2", "d", ts("2024-06-02 00:00:00"), dt("2024-06-02"), 4))
      .toDF("day", "pk", "at", "dt", "n")
    t.createIfNotExists(df.schema)
    t.importOnce(df)
    assert(t.dataFileCount == 2)
    // timestamp range covering only d1 must prune the d2 file — this is
    // exactly what breaks if footers were written INT96 (footerCanon
    // returns None → no stats → no pruning)
    val cand = t.candidateFiles("at",
      ts("2024-01-01 00:00:00"), ts("2024-01-03 00:00:00"))
    assert(cand.size == 1, s"timestamp zone map did not prune: $cand")
    assert(t.readWhereBetween("at", ts("2024-01-01 00:00:00"),
      ts("2024-01-03 00:00:00")).select("n").as[Int].collect().toSet == Set(1, 2))
    // same for DATE (INT32 epoch days in the footer)
    val candD = t.candidateFiles("dt", dt("2024-05-01"), dt("2024-07-01"))
    assert(candD.size == 1, s"date zone map did not prune: $candD")
    assert(t.readWhereBetween("dt", dt("2024-05-01"), dt("2024-07-01"))
      .select("n").as[Int].collect().toSet == Set(3, 4))
  }

  test("the MICROS data-file pin lives on a CLONED write session: the " +
    "caller's session conf is never touched, before, during or after") {
    val p = dir()
    val key = "spark.sql.parquet.outputTimestampType"
    val before = spark.conf.getOption(key)
    val t = new GraftTable(spark, p, keys = Seq("pk"), partitionCol = "day",
      statsCols = Seq("at"))
    val df = Seq(("d1", "a", java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 1))
      .toDF("day", "pk", "at", "n")
    t.createIfNotExists(df.schema)
    t.importOnce(df)
    t.upsertReplace(Seq(("d2", "b",
      java.sql.Timestamp.valueOf("2024-06-01 00:00:00"), 2))
      .toDF("day", "pk", "at", "n"))
    assert(spark.conf.getOption(key) == before,
      "graft data-file writes must never mutate the caller session's " +
        "timestamp type (the pin lives on the write clone)")
    // and the pin still lands: timestamp zone maps prune (INT96 footers
    // would yield no stats at all)
    val cand = t.candidateFiles("at",
      java.sql.Timestamp.valueOf("2024-01-01 00:00:00"),
      java.sql.Timestamp.valueOf("2024-01-02 00:00:00"))
    assert(cand.size == 1, s"footer stats missing under the clone: $cand")
  }

  test("DF-path bloom probe at checkpoint-backed versions honors each " +
    "entry's own geometry (mixed-bits history, reopened instance)") {
    val p = dir()
    val mk = (bits: Int) => new GraftTable(spark, p, keys = Seq("pk", "rk"),
      partitionCol = "day", bloomCols = Seq("rk"), bloomBits = bits)
    val a = mk(1024)
    a.createIfNotExists(rows().schema)
    a.importOnce(rows(("d1", "p", "r1", 1), ("d1", "p", "r2", 2)))
    // a second writer under DIFFERENT bits: its entries carry mod-256
    mk(256).upsertReplace(rows(("d2", "p", "r3", 3)))
    // enough commits to roll a parquet checkpoint (CheckpointEvery=8),
    // so the Bloom entries are read back from checkpoint columns
    for (i <- 0 until 8)
      mk(512).upsertReplace(rows((s"e$i", "p", s"x$i", 100 + i)))
    // reopened with yet another modulus: the probe must use each
    // entry's stored k/bits, never the instance's
    val t = mk(4096)
    assert(t.readWhereEquals("rk", "r3").select("n").as[Int].collect().toSet
      == Set(3), "checkpoint-backed bloom probe false-pruned or mis-probed")
    assert(t.candidateFilesEquals("rk", "r3").size < t.dataFileCount,
      "checkpoint-backed bloom probe stopped pruning")
    // value present in the FIRST writer's mod-1024 entries
    assert(t.readWhereEquals("rk", "r1").select("n").as[Int].collect().toSet
      == Set(1))
  }

  test("one version answers identically from its JSON base and from the " +
    "parquet checkpoint vacuum re-anchors it on") {
    val p = dir()
    val mk = (bits: Int) => new GraftTable(spark, p, keys = Seq("pk", "rk"),
      partitionCol = "day", statsCols = Seq("n"), bloomCols = Seq("rk"),
      bloomBits = bits)
    def nrows(t: (String, String, String, Option[Int])*) =
      t.toSeq.toDF("day", "pk", "rk", "n")
    mk(1024).createIfNotExists(nrows().schema)
    mk(1024).importOnce(nrows(("d1", "p", "r1", Some(1)), ("d1", "p", "r2", Some(3)),
      ("d2", "p", "r3", Some(10)), ("d2", "p", "r4", Some(12))))
    // mixed Bloom geometries, a null partition, and an all-null file (d3)
    mk(256).upsertReplace(nrows((null, "p", "r5", Some(20)),
      ("d3", "p", "r6", None)))
    mk(512).upsertReplace(nrows(("d4", "p", "r7", Some(30)), ("d4", "p", "r8", Some(31))))
    val t = mk(4096)
    val v = t.currentVersion
    def manifest = java.nio.file.Files.readString(
      java.nio.file.Paths.get(p, "_graft_log", f"v$v%06d.json"))
    def answers = Seq(
      t.candidateFilesRangeAt("n", Some(10), None, v).sorted,
      t.candidateFilesRangeAt("n", None, Some(3), v).sorted,
      t.candidateFilesRangeAt("n", Some(2), Some(11), v).sorted,
      t.candidateFilesRangeAt("n", Some(100), Some(200), v).sorted,
      t.candidateFilesEqualsVersioned("rk", "r5", v).sorted,
      t.candidateFilesEqualsVersioned("n", 12, v).sorted,
      t.candidateFilesEqualsAnyVersioned("rk", Seq("r1", "r6", "zz"), v),
      t.candidateFilesInSortedVersioned("n", Seq(3, 30, 1000), v).sorted,
      t.metadataAggregates(v, Seq(GraftTable.MetaCountStar,
        GraftTable.MetaCountCol("n"), GraftTable.MetaMin("n"),
        GraftTable.MetaMax("n"))))
    assert(v < GraftTable.CheckpointEvery && !manifest.contains("#ckpt:"))
    val fromJson = answers
    val live = t.liveFilesAt(v).size
    assert(live == 5, s"expected one file per partition, got $live")
    // the answers prune (a vacuous all-files answer would prove nothing)
    assert(fromJson.take(8).forall {
      case fs: Seq[_] => fs.size < live
      case _ => false
    }, s"$fromJson")
    assert(fromJson(3) == Seq.empty)
    assert(fromJson(8) == Some(Seq(8L, 7L, 1L, 31L)))
    t.vacuum(keepVersions = 1)
    assert(manifest.contains("#ckpt:"), "vacuum must re-anchor v as a checkpoint")
    assert(answers == fromJson)
  }

  test("micros write clone re-applies value-shaping caller conf " +
    "(timezone, ANSI) on every write — never a stale creation snapshot") {
    val tz0 = spark.conf.get("spark.sql.session.timeZone")
    try {
      spark.conf.set("spark.sql.session.timeZone", "America/New_York")
      val s1 = GraftTable.microsSessionFor(spark)
      assert(s1.conf.get("spark.sql.session.timeZone") == "America/New_York")
      // the caller changes conf AFTER the clone exists: the next write
      // sees the change (the r10 behavior snapshotted at creation)
      spark.conf.set("spark.sql.session.timeZone", "UTC")
      val s2 = GraftTable.microsSessionFor(spark)
      assert(s2.conf.get("spark.sql.session.timeZone") == "UTC",
        "the clone must follow the caller's CURRENT timezone")
      // the MICROS pin itself persists, and the caller stays unpinned
      assert(s2.conf.get("spark.sql.parquet.outputTimestampType")
        == "TIMESTAMP_MICROS")
      assert(spark.conf.get("spark.sql.parquet.outputTimestampType")
        != "TIMESTAMP_MICROS", "the caller's session must stay unpinned")
    } finally spark.conf.set("spark.sql.session.timeZone", tz0)
  }
}
