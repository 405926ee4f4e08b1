package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.functions.col

import graft.SparkSpec

/** Job budget of the keyed mutations on a small table: each count is a
  * ceiling at the figure the rewrite core reaches. A ceiling is lowered
  * when work lands and never raised to pass.
  */
class MutationJobBudgetSpec extends SparkSpec {
  import spark.implicits._

  private def rows(t: (String, String, String, Int)*) =
    t.toSeq.toDF("day", "pk", "rk", "n")

  private def table(): GraftTable = {
    val dir = Files.createTempDirectory("graft_budget").toString + "/t"
    val t = new GraftTable(spark, dir, keys = Seq("pk", "rk"), partitionCol = "day")
      .createIfNotExists(rows().schema)
    t.importOnce(rows(("d1", "p", "r1", 1), ("d1", "p", "r2", 2),
      ("d2", "p", "r1", 3), ("d3", "q", "r1", 4)))
    t
  }

  test("keyed mutations stay within their job budgets") {
    val t = table()
    val counts = Seq(
      "upsert, rows change" ->
        jobsOf(t.upsertReplace(rows(("d1", "p", "r1", 10), ("d4", "p", "r9", 9)))),
      "upsert, no row changes" ->
        jobsOf(t.upsertReplace(rows(("d1", "p", "r1", 10), ("d2", "p", "r1", 3)))),
      "deleteByKeys, match" ->
        jobsOf(t.deleteByKeys(Seq(("p", "r2")).toDF("pk", "rk"))),
      "deleteByKeys, no match" ->
        jobsOf(t.deleteByKeys(Seq(("x", "r0")).toDF("pk", "rk"))),
      "deleteByKeys, no keys" ->
        jobsOf(t.deleteByKeys(Seq.empty[(String, String)].toDF("pk", "rk"))),
      "insertIfAbsent" ->
        jobsOf(t.insertIfAbsent(rows(("d5", "p", "r5", 5), ("d1", "p", "r1", 0)))),
      "importOnce, nothing new" ->
        jobsOf(t.importOnce(rows(("d1", "p", "r1", 0), ("d5", "p", "r7", 7)))),
      "deleteWhere (vector), no match" -> {
        val v = t.currentVersion
        val n = jobsOf(t.deleteWhere(col("n") * 2 === 99))
        assert(t.currentVersion == v, "a DELETE matching nothing commits no version")
        n
      })
    info(counts.map { case (k, n) => s"$k: $n" }.mkString("; "))
    // before the rewrite core: 7, 7, 6, 3, 1 and 4 jobs; importOnce ran 3
    // while it scanned the table for its live partitions
    val ceilings = Map(
      "upsert, rows change" -> 5, "upsert, no row changes" -> 3,
      "deleteByKeys, match" -> 4, "deleteByKeys, no match" -> 2,
      "deleteByKeys, no keys" -> 0, "insertIfAbsent" -> 2,
      "importOnce, nothing new" -> 0, "deleteWhere (vector), no match" -> 1)
    counts.foreach { case (k, n) =>
      assert(n <= ceilings(k), s"$k ran $n Spark jobs, budget ${ceilings(k)}")
    }
    assert(t.read.select("day", "rk", "n").as[(String, String, Int)].collect().toSet ==
      Set(("d1", "r1", 10), ("d2", "r1", 3), ("d3", "r1", 4), ("d4", "r9", 9),
        ("d5", "r5", 5)))
  }
}
