package graft.sources

import java.nio.file.Files

import graft.SparkSpec

/** METADATA-ONLY AGGREGATE PUSHDOWN (round 11): `SELECT count(*) /
  * count(c) / min(c) / max(c) FROM t` answers from the manifest's
  * footer row counts and zone maps — planned as a LocalTableScan,
  * zero data files opened, zero distributed jobs. The Delta
  * "metadata-only count" shape, generalized to min/max, with strict
  * exactness gates: any WHERE / GROUP BY / deletion vector /
  * stats-free file / truncatable-extrema type declines the pushdown
  * and the normal scan runs (results identical either way).
  */
class GraftAggPushdownSpec extends SparkSpec {

  private var n = 0
  private def freshCatalog(): (String, String) = {
    n += 1
    val root = Files.createTempDirectory("graft_aggpd").toString
    val cat = s"gaggpd_${System.nanoTime()}_$n"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    (cat, root)
  }

  private def planOf(sql: String): String =
    spark.sql(sql).queryExecution.executedPlan.toString

  private def isMetadataOnly(sql: String): Boolean = {
    val p = planOf(sql)
    p.contains("LocalTableScan") && !p.contains("BatchScan")
  }

  test("count(*)/count(c)/min/max plan as a LocalTableScan with exact " +
    "values — nulls counted, several commits merged, empty table exact") {
    val (cat, _) = freshCatalog()
    spark.sql(s"""CREATE TABLE $cat.db.t (day STRING, pk BIGINT, v BIGINT)
      PARTITIONED BY (day) TBLPROPERTIES ('keys'='pk', 'statsCols'='v')""")

    // empty table: metadata answer is count 0 / null extrema
    assert(isMetadataOnly(s"SELECT count(*) FROM $cat.db.t"))
    val empty = spark.sql(
      s"SELECT count(*) AS c, min(v) AS mn, max(v) AS mx FROM $cat.db.t")
      .collect()(0)
    assert(empty.getLong(0) == 0L && empty.isNullAt(1) && empty.isNullAt(2))

    // two commits, one with nulls — counts span commits, count(v) < count(*)
    spark.sql(s"""INSERT INTO $cat.db.t (day, pk, v) VALUES
      ('d1', 1, 10), ('d1', 2, NULL), ('d2', 3, 7)""")
    spark.sql(s"""INSERT INTO $cat.db.t (day, pk, v) VALUES
      ('d2', 4, 42), ('d3', 5, NULL)""")
    val q = s"SELECT count(*) AS c, count(v) AS cv, min(v) AS mn, " +
      s"max(v) AS mx FROM $cat.db.t"
    assert(isMetadataOnly(q))
    val r = spark.sql(q).collect()(0)
    assert(r.getLong(0) == 5L && r.getLong(1) == 3L)
    assert(r.getLong(2) == 7L && r.getLong(3) == 42L)
  }

  test("declines (results still exact via the normal scan): WHERE, " +
    "GROUP BY, string extrema, live deletion vector, distinct count") {
    val (cat, _) = freshCatalog()
    spark.sql(s"""CREATE TABLE $cat.db.d (day STRING, pk BIGINT, v BIGINT,
      s STRING) PARTITIONED BY (day)
      TBLPROPERTIES ('keys'='pk', 'statsCols'='v,s')""")
    spark.sql(s"""INSERT INTO $cat.db.d (day, pk, v, s) VALUES
      ('d1', 1, 10, 'aa'), ('d1', 2, 20, 'zz'), ('d2', 3, 30, 'mm')""")

    // sanity: the bare aggregate IS metadata-only on this table
    assert(isMetadataOnly(s"SELECT count(*) FROM $cat.db.d"))

    // WHERE defeats it (file row counts describe whole files)
    val whereQ = s"SELECT count(*) AS c FROM $cat.db.d WHERE v > 15"
    assert(!isMetadataOnly(whereQ))
    assert(spark.sql(whereQ).collect()(0).getLong(0) == 2L)

    // GROUP BY defeats it
    val grpQ = s"SELECT day, count(*) AS c FROM $cat.db.d GROUP BY day"
    assert(!isMetadataOnly(grpQ))
    assert(spark.sql(grpQ).collect().map(r =>
      r.getString(0) -> r.getLong(1)).toMap == Map("d1" -> 2L, "d2" -> 1L))

    // string extrema: parquet truncates long binaries — zone-map
    // bounds are not exact extrema, so min/max(s) must NOT push
    val strQ = s"SELECT min(s) AS mn, max(s) AS mx FROM $cat.db.d"
    assert(!isMetadataOnly(strQ))
    val sr = spark.sql(strQ).collect()(0)
    assert(sr.getString(0) == "aa" && sr.getString(1) == "zz")

    // count(DISTINCT …) never pushes
    val dQ = s"SELECT count(DISTINCT v) AS c FROM $cat.db.d"
    assert(!isMetadataOnly(dQ))
    assert(spark.sql(dQ).collect()(0).getLong(0) == 3L)

    // a live deletion vector invalidates manifest row counts
    spark.sql(s"DELETE FROM $cat.db.d WHERE v = 20")
    val afterDv = s"SELECT count(*) AS c, max(v) AS mx FROM $cat.db.d"
    assert(!isMetadataOnly(afterDv))
    val dv = spark.sql(afterDv).collect()(0)
    assert(dv.getLong(0) == 2L && dv.getLong(1) == 30L)
  }

  test("a WHERE on the partition column stays metadata-only (the " +
    "matching directories' manifests answer); any data filter or a " +
    "mixed filter declines") {
    val (cat, _) = freshCatalog()
    spark.sql(s"""CREATE TABLE $cat.db.p (day STRING, pk BIGINT, v BIGINT)
      PARTITIONED BY (day) TBLPROPERTIES ('keys'='pk', 'statsCols'='v')""")
    spark.sql(s"""INSERT INTO $cat.db.p (day, pk, v) VALUES
      ('d1', 1, 10), ('d1', 2, 20), ('d2', 3, 7), ('d3', 4, 40)""")

    val q = s"SELECT count(*) AS c, min(v) AS mn, max(v) AS mx " +
      s"FROM $cat.db.p WHERE day = 'd1'"
    assert(isMetadataOnly(q), "partition-only WHERE should stay metadata")
    val r = spark.sql(q).collect()(0)
    assert(r.getLong(0) == 2L && r.getLong(1) == 10L && r.getLong(2) == 20L)

    // IN over partitions; and a no-match partition gives exact zeros
    val qin = s"SELECT count(*) AS c FROM $cat.db.p WHERE day IN ('d1', 'd3')"
    assert(isMetadataOnly(qin))
    assert(spark.sql(qin).collect()(0).getLong(0) == 3L)
    val qnone = s"SELECT count(*) AS c, max(v) AS mx FROM $cat.db.p " +
      s"WHERE day = 'nope'"
    assert(isMetadataOnly(qnone))
    val z = spark.sql(qnone).collect()(0)
    assert(z.getLong(0) == 0L && z.isNullAt(1))

    // a data filter — alone or mixed with the partition filter — declines
    val qd = s"SELECT count(*) AS c FROM $cat.db.p WHERE day = 'd1' AND v > 15"
    assert(!isMetadataOnly(qd))
    assert(spark.sql(qd).collect()(0).getLong(0) == 1L)
  }

  test("composes with time travel, column mapping and type widening; " +
    "a stats-free table never pushes") {
    val (cat, _) = freshCatalog()
    spark.sql(s"""CREATE TABLE $cat.db.m (day STRING, pk BIGINT, v INT)
      PARTITIONED BY (day) TBLPROPERTIES ('keys'='pk', 'statsCols'='v')""")
    spark.sql(s"INSERT INTO $cat.db.m (day, pk, v) VALUES ('d1', 1, 5), ('d2', 2, 9)")
    spark.sql(s"INSERT INTO $cat.db.m (day, pk, v) VALUES ('d1', 3, 1)")

    // time travel: the pinned version's manifest answers (v1 = the
    // CREATE commit, v2 = the first INSERT)
    val tt = s"SELECT count(*) AS c, min(v) AS mn FROM $cat.db.m VERSION AS OF 2"
    assert(isMetadataOnly(tt))
    val t1 = spark.sql(tt).collect()(0)
    assert(t1.getLong(0) == 2L && t1.getInt(1) == 5)

    // widen INT -> BIGINT then rename: the logical surface still
    // answers from the (physically-named, narrow-filed) zone maps
    spark.sql(s"ALTER TABLE $cat.db.m ALTER COLUMN v TYPE BIGINT")
    spark.sql(s"ALTER TABLE $cat.db.m RENAME COLUMN v TO score")
    val mapped = s"SELECT count(score) AS c, max(score) AS mx FROM $cat.db.m"
    assert(isMetadataOnly(mapped))
    val mr = spark.sql(mapped).collect()(0)
    assert(mr.getLong(0) == 3L && mr.getLong(1) == 9L)

    // no statsCols — no per-file row counts — never pushes
    val (cat2, _) = freshCatalog()
    spark.sql(s"""CREATE TABLE $cat2.db.bare (day STRING, pk BIGINT, v BIGINT)
      PARTITIONED BY (day) TBLPROPERTIES ('keys'='pk')""")
    spark.sql(s"INSERT INTO $cat2.db.bare (day, pk, v) VALUES ('d1', 1, 10)")
    val bare = s"SELECT count(*) AS c FROM $cat2.db.bare"
    assert(!isMetadataOnly(bare))
    assert(spark.sql(bare).collect()(0).getLong(0) == 1L)
  }

  test("at a checkpoint-backed version count(*)/min/max plans with no " +
    "Spark job once the checkpoint is cached") {
    val (cat, root) = freshCatalog()
    spark.sql(s"""CREATE TABLE $cat.db.c (day STRING, pk BIGINT, v BIGINT)
      PARTITIONED BY (day) TBLPROPERTIES ('keys'='pk', 'statsCols'='v')""")
    // CREATE is v1; nine INSERTs roll past the v8 parquet checkpoint
    for (i <- 1 to 9)
      spark.sql(s"INSERT INTO $cat.db.c (day, pk, v) VALUES ('d${i % 3}', $i, ${i * 10})")
    val t = graft.operators.GraftTableMeta.open(spark, s"$root/db/c").get
    assert(t.currentVersion == 10L)
    t.liveFilesAt(t.currentVersion) // the checkpoint is cached from here on
    val q = s"SELECT count(*) AS c, min(v) AS mn, max(v) AS mx FROM $cat.db.c"
    val jobs = jobsOf { spark.sql(q).queryExecution.executedPlan; () }
    assert(jobs == 0, s"metadata-only aggregate planning ran $jobs Spark jobs")
    assert(isMetadataOnly(q))
    val r = spark.sql(q).collect()(0)
    assert(r.getLong(0) == 9L && r.getLong(1) == 10L && r.getLong(2) == 90L)
  }
}
