package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Skipping-index-driven MUTATION planning (round-10): updateWhere /
  * deleteWhere / deleteWhereRewrite discover their matched rows through
  * the table's own zone-map/Bloom candidate machinery instead of
  * scanning every live file — and the large-IN-list pruning path (one
  * sorted zone-map pass, no per-value Bloom probes, no size cap).
  */
class PredicatePruningSpec extends SparkSpec {
  import spark.implicits._

  private def fresh(): GraftTable = {
    val dir = Files.createTempDirectory("graft_pp").toString + "/t"
    val t = new GraftTable(spark, dir, keys = Seq("pk", "rk"),
      partitionCol = "day", statsCols = Seq("n"))
    t.createIfNotExists(Seq.empty[(String, String, String, Long)]
      .toDF("day", "pk", "rk", "n").schema)
    t
  }

  private def seeded(): GraftTable = {
    val t = fresh()
    t.importOnce((0L until 400L).map(i => (s"d${i % 2}", "p", s"r$i", i))
      .toDF("day", "pk", "rk", "n"))
    t.compactRange(8, Seq("n")) // range-disjoint files on n
    t
  }

  test("updateWhere discovers touched partitions through the zone maps: " +
    "candidate files << live files; result exact") {
    val t = seeded()
    PredicatePruning.lastMutationLiveFiles.set(-1)
    PredicatePruning.lastMutationCandidateFiles.set(-1)
    t.updateWhere(col("n") === 42L, Map("n" -> lit(4242L)))
    val (cand, live) = (PredicatePruning.lastMutationCandidateFiles.get(),
      PredicatePruning.lastMutationLiveFiles.get())
    assert(cand >= 1 && live >= 4 && cand < live,
      s"expected pruned discovery, candidates=$cand live=$live")
    val got = t.read.select("rk", "n").as[(String, Long)].collect().toMap
    assert(got.size == 400 && got("r42") == 4242L && got("r41") == 41L)
  }

  test("deleteWhere: zone maps proving no match commit NOTHING; a " +
    "selective delete discovers over candidate files only") {
    val t = seeded()
    val v = t.currentVersion
    t.deleteWhere(col("n") === 100000L) // outside every file's range
    assert(t.currentVersion == v,
      "a provably-no-match delete must not commit (or scan)")
    PredicatePruning.lastMutationLiveFiles.set(-1)
    PredicatePruning.lastMutationCandidateFiles.set(-1)
    t.deleteWhere(col("n") === 42L)
    val (cand, live) = (PredicatePruning.lastMutationCandidateFiles.get(),
      PredicatePruning.lastMutationLiveFiles.get())
    assert(cand >= 1 && cand < live,
      s"expected pruned DV discovery, candidates=$cand live=$live")
    val got = t.read.select("rk", "n").as[(String, Long)].collect().toMap
    assert(got.size == 399 && !got.contains("r42") && got("r41") == 41L)
  }

  test("deleteWhereRewrite prunes its touched-partition discovery; " +
    "unprunable predicates degrade to the full scan with exact results") {
    val t = seeded()
    PredicatePruning.lastMutationLiveFiles.set(-1)
    PredicatePruning.lastMutationCandidateFiles.set(-1)
    t.deleteWhereRewrite(col("n") >= 390L)
    val (cand, live) = (PredicatePruning.lastMutationCandidateFiles.get(),
      PredicatePruning.lastMutationLiveFiles.get())
    assert(cand >= 1 && cand < live,
      s"expected pruned rewrite discovery, candidates=$cand live=$live")
    assert(t.read.count() == 390)
    // unprunable (expression over the column): falls back, still exact
    t.deleteWhereRewrite(col("n") % 10 === 7)
    assert(t.read.count() == 390 - 39)
  }

  test("IN list ABOVE the Bloom-probe cap prunes via one sorted " +
    "zone-map pass (driver path): superset of the per-value result") {
    val t = seeded()
    val v = t.currentVersion
    val live = t.liveFilesAt(v)
    // 1001 values, only 42 in any file's range
    val vals: Seq[Any] = (0L until 1000L).map(10000L + _) :+ 42L
    val cand = t.candidateFilesInSortedVersioned("n", vals, v)
    assert(cand.nonEmpty && cand.size < live.size,
      s"sorted-pass pruning failed: ${cand.size} of ${live.size}")
    // superset of the Bloom-probed single-value candidates
    val exact = t.candidateFilesEqualsVersioned("n", 42L, v)
    assert(exact.toSet.subsetOf(cand.toSet))
  }

  test("SQL IN with 1000 values prunes with no Spark job") {
    val t = seeded()
    GraftTableMeta.annotate(t)
    // roll past a checkpoint: the version's chain bottoms on parquet
    for (i <- 0 until 8)
      t.upsertReplace(Seq((s"e$i", "p", s"x$i", 1000L + i))
        .toDF("day", "pk", "rk", "n"))
    val v = t.currentVersion
    assert(v >= GraftTable.CheckpointEvery && v < 2 * GraftTable.CheckpointEvery)
    val vals: Seq[Any] = (0L until 997L).map(10000L + _) ++ Seq(5L, 105L, 205L)
    val live = t.liveFilesAt(v) // the checkpoint is cached from here on
    var cand = Seq.empty[String]
    val jobs = jobsOf { cand = t.candidateFilesInSortedVersioned("n", vals, v) }
    assert(jobs == 0, s"IN (1000 values) pruning ran $jobs Spark jobs, expected 0")
    assert(cand.nonEmpty && cand.size < live.size,
      s"sorted-pass pruning failed: ${cand.size} of ${live.size}")
    val cat = s"gcat_pp_${System.nanoTime()}"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root",
      java.nio.file.Paths.get(t.path).getParent.getParent.toString)
    val inList = vals.mkString(", ")
    org.apache.spark.sql.graft.GraftSqlRead.lastPlannedFiles.set(-1)
    val ns = java.nio.file.Paths.get(t.path).getParent.getFileName.toString
    val tn = java.nio.file.Paths.get(t.path).getFileName.toString
    val got = spark.sql(
      s"SELECT rk, n FROM $cat.$ns.$tn WHERE n IN ($inList)")
      .as[(String, Long)].collect().toSet
    assert(got == Set(("r5", 5L), ("r105", 105L), ("r205", 205L)))
    import org.apache.spark.sql.graft.GraftSqlRead
    assert(GraftSqlRead.lastPlannedFiles.get() >= 0 &&
      GraftSqlRead.lastPlannedFiles.get() < GraftSqlRead.lastTotalFiles.get(),
      s"large-IN pruning skipped nothing: planned " +
        s"${GraftSqlRead.lastPlannedFiles.get()} of ${GraftSqlRead.lastTotalFiles.get()}")
  }
}
